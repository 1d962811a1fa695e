package graft.sources.reftable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Manifest-referenced versions: a version directory that NAMES its files
  * instead of physically containing them all.
  *
  * Before this layer, every copy-on-write mutation (DELETE/UPDATE/MERGE)
  * carried each untouched file of the parent version into the new version
  * directory by hard link (local) or copy (object stores): O(total files)
  * filesystem metadata operations per mutation, and a real byte copy where
  * links don't exist. With a file manifest the new version directory holds
  * ONLY the rewritten files plus a `_FILES.json` that says "parent's files,
  * minus these, plus mine" — a 1-file delete on a 10k-file table commits
  * O(1) manifest entries and O(1) data files. This is the Delta Lake log
  * shape (add/remove actions per commit, checkpoints bounding the replay
  * chain); Iceberg reaches the same end by re-pointing immutable manifest
  * files.
  *
  * ON-DISK FORMAT (`_FILES.json` inside the version dir):
  * {{{
  *   {"version": 1,
  *    "depth": 3,                  // manifest-chain hops to a full listing
  *    "parent": "v..._1a2b3c4d",   // version whose files are inherited
  *    "removed": ["v.../part-0.parquet", ...],   // root-relative paths
  *    "added": [{"path": "./part-0.parquet", "len": 123,
  *               "pv": {"lang": "de"}}, ...]}
  * }}}
  *
  *  - `"./name"` means "inside THIS version directory" — the staging dir is
  *    renamed into place, so self-references must not embed the name.
  *  - every other path is relative to the TABLE ROOT (`vXXX/part-N.parquet`),
  *    pointing into the version directory that physically hosts the file.
  *  - a materialized manifest (`parent: null`, `removed: []`) lists every
  *    file; the writer materializes whenever the chain would exceed
  *    [[MaxChainDepth]], so resolution walks a bounded number of manifests
  *    regardless of mutation count (the Delta checkpoint pattern).
  *
  * Files and manifests are immutable once a version is committed, so
  * resolution results are cached per version directory.
  *
  * RETENTION. A version directory may now be load-bearing for NEWER
  * versions (they reference its files, or walk its manifest). Retention
  * and vacuum therefore compute the protected set — every directory in a
  * retained version's manifest chain plus every directory hosting one of
  * its files ([[protectedDirs]]) — and never delete those, even when their
  * own commit expires. Once the last referencing version is pruned, a
  * later vacuum collects the directory: reference-counted GC with the
  * commit log as the root set.
  */
object RefTableFileManifest {

  val ManifestName = "_FILES.json"

  /** Longest manifest chain resolution will walk; the writer materializes
    * a full listing beyond it, amortizing the O(files) entry write over
    * [[MaxChainDepth]] O(changed)-entry mutations.
    */
  val MaxChainDepth = 32

  /** One manifest-resolved file: `rel` is root-relative. */
  final case class Entry(rel: String, len: Long, pv: Map[String, String])

  /** Resolution cache: committed manifests are immutable, so entries never
    * invalidate — only bound memory. Access-ordered LRU evicting one entry
    * at capacity (a driver serving many tables/versions keeps its hot set;
    * a full clear() would force whole-chain re-reads on every miss burst).
    */
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[Entry]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Seq[Entry]]): Boolean =
        size() > 256
    })

  private def manifestPath(root: String, version: String): Path =
    new Path(new Path(root, version), ManifestName)

  /** Whether `version` under `root` is manifest-referenced. */
  def exists(root: String, version: String, conf: Configuration): Boolean = {
    val p = manifestPath(root, version)
    p.getFileSystem(conf).exists(p)
  }

  /** The complete file listing of `version`, root-relative, resolving the
    * manifest chain; None when the version is physical (no manifest).
    * `partitionColumns` direct the physical listing of the chain base.
    */
  def resolve(
      root: String, version: String, partitionColumns: Seq[String],
      conf: Configuration): Option[Seq[Entry]] = {
    if (!exists(root, version, conf)) return None
    Some(resolveRel(root, version, partitionColumns, conf, depthLeft = MaxChainDepth + 2))
  }

  private def resolveRel(
      root: String, version: String, partitionColumns: Seq[String],
      conf: Configuration, depthLeft: Int): Seq[Entry] = {
    val mp = manifestPath(root, version)
    val fs = mp.getFileSystem(conf)
    if (!fs.exists(mp)) {
      // chain base: a physical version — list it and relativize
      val dir = new Path(root, version).toString
      val qualifiedRoot = fs.makeQualified(new Path(root)).toString
      return SnapshotFiles.listPhysical(dir, partitionColumns, conf = conf).map { f =>
        Entry(relOf(f.path, qualifiedRoot), f.length, f.partitionValues)
      }
    }
    val key = fs.makeQualified(mp).toString
    val cached = cache.get(key)
    if (cached != null) return cached
    if (depthLeft <= 0)
      throw new IllegalStateException(
        s"reftable: manifest chain at $root/$version exceeds $MaxChainDepth hops — " +
          "the writer should have materialized; refusing a possibly-cyclic walk")
    val in = fs.open(mp)
    val node = try Json.mapper.readTree(in) finally in.close()
    val parent = Option(node.get("parent")).filterNot(_.isNull).map(_.asText())
    val removed = Option(node.get("removed")).map(
      _.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty)
    val added = Option(node.get("added")).map(_.elements().asScala.map { e =>
      val raw = e.path("path").asText()
      val rel = if (raw.startsWith("./")) s"$version/${raw.substring(2)}" else raw
      val pv = Option(e.get("pv")).map(
        _.properties().asScala.map(p => p.getKey -> p.getValue.asText()).toMap)
        .getOrElse(Map.empty[String, String])
      Entry(rel, e.path("len").asLong(), pv)
    }.toSeq).getOrElse(Nil)
    val inherited = parent match {
      case Some(p) =>
        resolveRel(root, p, partitionColumns, conf, depthLeft - 1)
          .filterNot(e => removed.contains(e.rel))
      case None => Nil
    }
    val all = (inherited ++ added).sortBy(_.rel)
    cache.put(key, all)
    all
  }

  private def relOf(path: String, qualifiedRoot: String): String =
    if (path.startsWith(qualifiedRoot + "/")) path.substring(qualifiedRoot.length + 1)
    else path

  private def chainDepth(root: String, version: String, conf: Configuration): Int = {
    val mp = manifestPath(root, version)
    val fs = mp.getFileSystem(conf)
    if (!fs.exists(mp)) return 0
    val in = fs.open(mp)
    val node = try Json.mapper.readTree(in) finally in.close()
    node.path("depth").asInt(MaxChainDepth) // absent depth: force materialize
  }

  /** Write the `_FILES.json` for a mutation's staging directory: the new
    * version = parent's files − `removedRel` + whatever parquet the
    * mutation staged (self-referenced as `./name`, so the manifest survives
    * the staging rename). Materializes a full listing when the parent's
    * chain is already [[MaxChainDepth]] deep. Must run inside the
    * `publishVia` populate step, BEFORE the staging rename.
    */
  def writeDelta(
      root: String, staging: Path, parentVersion: String, removedRel: Set[String],
      partitionColumns: Seq[String], conf: Configuration): Unit = {
    val fs = staging.getFileSystem(conf)
    fs.mkdirs(staging) // the mutation may have staged no rewritten files
    val qualifiedStaging = fs.makeQualified(staging).toString
    val staged = SnapshotFiles.listPhysical(staging.toString, partitionColumns, conf = conf)
      .map(f => (s"./${relOf(f.path, qualifiedStaging)}", f.length, f.partitionValues))
    val om = Json.mapper
    val rootNode = om.createObjectNode()
    rootNode.put("version", 1)
    val parentDepth = chainDepth(root, parentVersion, conf)
    val materialize = parentDepth + 1 > MaxChainDepth
    if (materialize) {
      rootNode.put("depth", 1)
      rootNode.putNull("parent")
      rootNode.putArray("removed")
      val added = rootNode.putArray("added")
      val inherited = resolveRel(root, parentVersion, partitionColumns, conf,
        depthLeft = MaxChainDepth + 2).filterNot(e => removedRel.contains(e.rel))
      (inherited.map(e => (e.rel, e.len, e.pv)) ++ staged).foreach { case (p, len, pv) =>
        val e = added.addObject()
        e.put("path", p)
        e.put("len", len)
        if (pv.nonEmpty) { val pn = e.putObject("pv"); pv.foreach { case (k, v) => pn.put(k, v) } }
      }
    } else {
      rootNode.put("depth", parentDepth + 1)
      rootNode.put("parent", parentVersion)
      val rm = rootNode.putArray("removed")
      removedRel.toSeq.sorted.foreach(rm.add)
      val added = rootNode.putArray("added")
      staged.foreach { case (p, len, pv) =>
        val e = added.addObject()
        e.put("path", p)
        e.put("len", len)
        if (pv.nonEmpty) { val pn = e.putObject("pv"); pv.foreach { case (k, v) => pn.put(k, v) } }
      }
    }
    LocalFs.createWrite(fs, new Path(staging, ManifestName), om.writeValueAsBytes(rootNode))
    // merge-on-read deletion vectors: every manifest-writing commit
    // carries the parent's sidecars verbatim (O(sidecar files) metadata;
    // stale entries are inert — see DeletionVectors), so the new
    // version's own `_DV/` stays the complete applicable set
    DeletionVectors.carry(root, parentVersion, staging, conf)
  }

  /** Write a MATERIALIZED `_FILES.json` for a plain publish's staging dir
    * (depth 1, no parent): every self-hosted file listed with its
    * partition values. With this, EVERY committed version resolves its
    * listing from one manifest read — a freshly published 100k-partition
    * table lists in O(1) filesystem calls instead of a recursive
    * directory walk, and the walk code remains only as the legacy
    * fallback for pre-manifest/adopted versions. No-op when the populate
    * step already wrote a manifest (mutations and appends write deltas).
    */
  def writeFull(staging: Path, partitionColumns: Seq[String], conf: Configuration): Unit = {
    val fs = staging.getFileSystem(conf)
    if (fs.exists(new Path(staging, ManifestName))) return
    val qualifiedStaging = fs.makeQualified(staging).toString
    val staged = SnapshotFiles.listPhysical(staging.toString, partitionColumns, conf = conf)
    val om = Json.mapper
    val rootNode = om.createObjectNode()
    rootNode.put("version", 1)
    rootNode.put("depth", 1)
    rootNode.putNull("parent")
    rootNode.putArray("removed")
    val added = rootNode.putArray("added")
    staged.foreach { f =>
      val e = added.addObject()
      e.put("path", s"./${relOf(f.path, qualifiedStaging)}")
      e.put("len", f.length)
      if (f.partitionValues.nonEmpty) {
        val pn = e.putObject("pv")
        f.partitionValues.foreach { case (k, v) => pn.put(k, v) }
      }
    }
    LocalFs.createWrite(fs, new Path(staging, ManifestName), om.writeValueAsBytes(rootNode))
  }

  /** Directories that retained `versions` depend on: every hop of each
    * version's manifest chain (the manifests themselves are needed to
    * resolve) and every directory hosting one of its resolved files.
    * Retention and vacuum must not delete these even when their own
    * commits expire — they are the live closure of the commit-log roots.
    */
  def protectedDirs(
      root: String, versions: Seq[String], conf: Configuration): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    versions.foreach { v =>
      var cur = v
      var hops = 0
      var done = false
      while (!done && hops <= MaxChainDepth + 2) {
        out += cur
        val mp = manifestPath(root, cur)
        val fs = mp.getFileSystem(conf)
        if (!fs.exists(mp)) done = true
        else {
          val in = fs.open(mp)
          val node = try Json.mapper.readTree(in) finally in.close()
          // hosting dirs of added entries (inherited ones surface through
          // the parent hops; "./" entries host in cur, already added)
          Option(node.get("added")).foreach(_.elements().asScala.foreach { e =>
            val p = e.path("path").asText()
            if (!p.startsWith("./") && p.contains("/")) out += p.substring(0, p.indexOf('/'))
          })
          Option(node.get("parent")).filterNot(_.isNull) match {
            case Some(p) => cur = p.asText(); hops += 1
            case None => done = true
          }
        }
      }
    }
    out.toSet
  }
}
