package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** A snapshot file pinned at refresh time. Pinning (path, length) at the
  * refresh boundary is what gives a generation snapshot identity even if the
  * underlying table is overwritten mid-generation — parquet files are
  * immutable once written. `partitionValues` carries the file's Hive-style
  * directory values (raw strings as listed; empty for flat layouts).
  */
final case class SnapshotFile(
    path: String, length: Long, partitionValues: Map[String, String] = Map.empty,
    dvPositions: Seq[Long] = Nil)

object SnapshotFiles {
  def list(dir: String): Seq[SnapshotFile] = list(dir, Nil)

  def list(dir: String, partitionColumns: Seq[String]): Seq[SnapshotFile] =
    list(dir, partitionColumns, None)

  /** The concrete snapshot directory a table path names right now: a
    * versioned root (VersionedTable) resolves to its current version dir
    * ONCE per listing — the pinned file list then stays readable even if a
    * new version is published mid-generation (old versions are retained,
    * unlike an in-place overwrite which deletes files under a running
    * scan). An explicit `version` pins the read to that version instead
    * (time travel). Resolving an already-resolved dir is a no-op (version
    * dirs contain no pointer file). Robust resolution: a reader racing a
    * local-FS pointer swap must wait out the transient missing-pointer
    * window, not fall back to the bare root and see an empty table.
    */
  def resolveDir(dir: String, version: Option[String], conf: Configuration): String =
    version match {
      case Some(v) if v.startsWith("tag:") || v.startsWith("ts:") =>
        // `tag:<name>` — named immutable reference (VersionedTable.tag),
        // resolved through `_TAGS/<name>.json` (retention keeps tagged
        // versions alive, so a loud failure means the tag never existed or
        // was dropped); `ts:<timestamp>` — TIMESTAMP AS OF over the
        // commit log (publish times embedded in version names, monotonic)
        new Path(dir, VersionedTable.resolveSpec(dir, v, conf)).toString
      case Some(v) => new Path(dir, v).toString
      case None => VersionedTable.resolveRobust(dir, conf).getOrElse(dir)
    }

  def list(dir: String, partitionColumns: Seq[String], version: Option[String],
      conf: Configuration = HadoopConf.copy()): Seq[SnapshotFile] = {
    val resolved = resolveDir(dir, version, conf)
    // a manifest-referenced version (mutation output) NAMES its files —
    // possibly hosted in other version dirs — instead of containing them.
    // Deletion-vector positions (merge-on-read deletes) pin WITH the
    // listing: the version dir's own `_DV/` sidecars are the complete set
    // (DeletionVectors invariant), so files and positions always come
    // from the same snapshot.
    val rp = new Path(resolved)
    if (rp.getName.matches("v\\d{19}_[0-9a-f]{8}")) {
      val root = rp.getParent
      RefTableFileManifest.resolve(root.toString, rp.getName, partitionColumns, conf)
        .foreach { entries =>
          val qualifiedRoot = root.getFileSystem(conf).makeQualified(root).toString
          return DeletionVectors.attach(
            entries.map(e =>
              SnapshotFile(s"$qualifiedRoot/${e.rel}", e.len, e.pv)).sortBy(_.path),
            resolved, conf)
        }
      // a version dir (manifest-less legacy version): walk unbounded — the
      // dir is immutable, so the cost is per-version, not per-refresh
      return listPhysical(resolved, partitionColumns, conf = conf)
    }
    // BARE root: every streaming refresh re-walks the whole layout on the
    // driver, so a many-partition bare dir is a standing per-refresh stall
    // — refuse past the limit and name the remedy (adopt migrates the
    // layout into a versioned root whose manifest lists in one read)
    listPhysical(resolved, partitionColumns, bareDirLimit = Some(bareHiveDirLimit), conf = conf)
  }

  /** Max partition directories a BARE (un-adopted) Hive layout may hold
    * before listings refuse and point at [[VersionedTable.adopt]].
    * Overridable for tests and unusual deployments via the system property
    * `graft.reftable.bareHiveDirLimit`.
    */
  private def bareHiveDirLimit: Int =
    Option(System.getProperty("graft.reftable.bareHiveDirLimit"))
      .flatMap(_.toIntOption).getOrElse(4096)

  /** Physical directory listing (flat or Hive-partitioned walk) — the
    * chain-base path of manifest resolution, and every pre-manifest
    * version. `bareDirLimit` bounds the partition-directory walk for BARE
    * roots (see [[list]]): exceeded → refuse with the adopt remedy.
    */
  def listPhysical(resolved: String, partitionColumns: Seq[String],
      bareDirLimit: Option[Int] = None, conf: Configuration = HadoopConf.copy()): Seq[SnapshotFile] = {
    val p = new Path(resolved)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) throw new IllegalArgumentException(s"reftable path does not exist: $resolved")
    if (partitionColumns.isEmpty) {
      fs.listStatus(p).toIndexedSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
        .map(s => SnapshotFile(s.getPath.toString, s.getLen)) match {
        case Seq() if fs.getFileStatus(p).isFile =>
          Seq(SnapshotFile(p.toString, fs.getFileStatus(p).getLen))
        case other => other
      }
    } else {
      // Hive layout: one directory level per partition column, in option
      // order; values decoded from `col=value` names. One recursive listing
      // per refresh on the driver — bounded for BARE roots by bareDirLimit,
      // because a bare layout re-walks EVERY refresh (a versioned root
      // reads one manifest instead; see VersionedTable.adopt).
      var dirsSeen = 0
      def walk(d: Path, depth: Int, acc: Map[String, String]): Seq[SnapshotFile] =
        if (depth == partitionColumns.size) {
          fs.listStatus(d).toIndexedSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(s => SnapshotFile(s.getPath.toString, s.getLen, acc))
        } else {
          val entries = fs.listStatus(d).toIndexedSeq
          // a parquet file ABOVE the expected partition depth means this
          // physical dir predates the current partition spec (partition
          // evolution over a manifest-less legacy version) — listing it
          // with the current spec would silently return empty, so refuse
          if (entries.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
            throw new IllegalStateException(
              s"reftable: $d holds data files at partition depth $depth but the current " +
                s"spec expects ${partitionColumns.size} level(s) [${partitionColumns.mkString(", ")}] " +
                "— a manifest-less version written under an earlier partition spec; run " +
                "VersionedTable.adopt (or compact) to migrate it before evolving the spec")
          entries
            .filter(s => s.isDirectory &&
              !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
            .flatMap { s =>
              dirsSeen += 1
              for (limit <- bareDirLimit; if dirsSeen > limit)
                throw new IllegalStateException(
                  s"reftable: bare Hive layout at $resolved exceeds $limit partition " +
                    "directories — every streaming refresh re-walks the whole layout on " +
                    "the driver. Run VersionedTable.adopt(root, partitionColumns) once " +
                    "(readers and writers quiesced) to migrate it into a versioned root " +
                    "whose file manifest lists in one read; " +
                    "graft.reftable.bareHiveDirLimit overrides the threshold.")
              val name = s.getPath.getName
              val eq = name.indexOf('=')
              if (eq < 0 || RefTablePartitioning.unescape(name.substring(0, eq)) != partitionColumns(depth))
                throw new IllegalArgumentException(
                  s"reftable: expected '${partitionColumns(depth)}=<value>' directories under $d, found '$name'")
              walk(s.getPath, depth + 1,
                acc + (partitionColumns(depth) -> RefTablePartitioning.unescape(name.substring(eq + 1))))
            }
        }
      walk(p, 0, Map.empty).sortBy(_.path)
    }
  }

  /** Listing for a scan: partition-aware, version-aware, and pruned by the
    * pushed filters — first exactly on directory partition values, then on
    * the `_STATS.json` per-file ranges when the snapshot carries one
    * ([[RefTableStats]]). The version dir is resolved ONCE so the files and
    * the manifest are guaranteed to come from the same snapshot.
    */
  def pruned(opts: RefTableOptions, filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[SnapshotFile] =
    prunedCounted(opts, filters)._2

  /** [[pruned]] plus the PRE-pruning listing size, for the scan's
    * filesListed/filesPruned metrics — one resolve and one listing, shared.
    */
  def prunedCounted(opts: RefTableOptions,
      filters: Seq[org.apache.spark.sql.sources.Filter]): (Long, Seq[SnapshotFile]) = {
    val conf = HadoopConf.copy()
    prunedCountedIn(resolveDir(opts.path, opts.version, conf), opts, filters, conf)
  }

  /** [[prunedCounted]] over a snapshot dir the caller already resolved with
    * `conf`, so one listing and the caller's own reads share a snapshot.
    */
  def prunedCountedIn(resolved: String, opts: RefTableOptions,
      filters: Seq[org.apache.spark.sql.sources.Filter], conf: Configuration): (Long, Seq[SnapshotFile]) = {
    // physicalNesting: hidden partition transforms nest the layout under
    // derived dirs (ts_day=...) that are NOT schema fields — the walk and
    // the manifest pv keys use the dir names, pruning maps source-column
    // predicates onto them (RefTablePartitioning + RefTableTransforms)
    val listed = list(resolved, opts.physicalNesting, None, conf)
    val kept = RefTableStats.prune(
      resolved,
      RefTablePartitioning.prune(listed, opts, filters),
      opts, filters, conf)
    (listed.size.toLong, kept)
  }
}

/** Offset = (batch counter, refresh generation, files emitted so far in the
  * generation, wall-clock generation at emission time). `upTo` = -1 means
  * "the whole generation" — both the legacy round-1 offset format and the
  * unchunked fast path decode that way. `wall` = -1 means "same as gen"
  * (the normal case and the legacy format): it diverges only when a
  * restart-abandoned generation forces `gen` to run ahead of wall-clock —
  * the refresh decision always compares against `wall`, never the possibly
  * synthetic `gen`, so run-ahead never suppresses a real refresh boundary.
  * JSON-serialized into the streaming checkpoint.
  */
final case class RefTableOffset(batch: Long, gen: Long, upTo: Long = -1L, wall: Long = -1L)
    extends Offset {
  /** The wall-clock generation this offset was emitted under. */
  def wallGen: Long = if (wall >= 0) wall else gen
  override def json(): String = s"""{"batch":$batch,"gen":$gen,"upTo":$upTo,"wall":$wall}"""
}

object RefTableOffset {
  def fromJson(s: String): RefTableOffset = {
    val n = Json.mapper.readTree(s)
    RefTableOffset(
      n.path("batch").asLong(),
      n.path("gen").asLong(),
      if (n.has("upTo")) n.path("upTo").asLong() else -1L,
      if (n.has("wall")) n.path("wall").asLong() else -1L)
  }
}

/** The reference's snapshot/refresh semantics as a DSv2 MicroBatchStream
  * (reference core: TableInputDStream.scala:51-62).
  *
  *  - Refresh policy: generation = floor(now / refreshInterval) — refreshes
  *    align to interval multiples exactly like the reference's threshold
  *    arithmetic (`lastRefreshTime + refreshInterval − lastRefreshTime %
  *    refreshInterval`, TableInputDStream.scala:56-58), and the first poll
  *    always loads (reference resets lastRefreshTime in start(),
  *    TableInputDStream.scala:42-45).
  *  - The refresh decision is made once, on the driver, inside latestOffset()
  *    and recorded in the offset, so retried tasks always see a consistent
  *    generation (the reference decided per `compute` call with wall-clock).
  *  - emitMode=refresh (default): one micro-batch per generation — idiomatic
  *    Structured Streaming (no-data triggers are skipped, and
  *    processAllAvailable() terminates). emitMode=trigger reproduces the
  *    DStream cadence: every trigger re-emits the current snapshot.
  *  - Admission control (SupportsAdmissionControl): with
  *    maxFilesPerTrigger / maxBytesPerTrigger a generation is emitted across
  *    several micro-batches (offset `upTo` = cumulative file count). The
  *    generation stays pinned until fully emitted — a refresh boundary
  *    crossed mid-generation does NOT switch snapshots, preserving snapshot
  *    identity; the next generation begins at the following batch.
  *  - Trigger.AvailableNow (SupportsTriggerAvailableNow): the current
  *    generation is pinned at prepare time and drained (in chunks if
  *    limited), then the query stops — also what makes trigger-emit mode
  *    terminate under AvailableNow.
  *  - commit(end) releases snapshot metadata for generations < end.gen — the
  *    reference never unpersisted old snapshots (leak at
  *    TableInputDStream.scala:59); here old generations are dropped as soon
  *    as they are committed.
  *  - Restart: planInputPartitions for an unknown generation re-lists the
  *    current table state — the reference's restart behavior (its pipeline
  *    test stops/restarts and expects current rows, PipelineTest.java:151-177).
  *    A mid-generation offset recovered from the checkpoint is NOT continued
  *    (the pinned listing died with the previous driver — continuing would
  *    stitch two listings into one "snapshot"): the partial generation is
  *    abandoned and the current state re-emitted as a fresh generation.
  *    Replaying the single uncommitted chunk batch after a restart still
  *    slices the re-listed state — at-least-once within the abandoned
  *    generation; sinks requiring exact determinism should run unchunked,
  *    and `strictSnapshot=true` turns that contract into a validation
  *    error by refusing the admission caps outright ([[RefTableOptions]]).
  */
class RefTableMicroBatchStream(
    opts: RefTableOptions, required: StructType, pushed: Array[Filter] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  /** Per-trigger source metrics, surfaced in `StreamingQueryProgress
    * .sources[].metrics` — the streaming analogue of the batch scan's
    * custom SQL metrics: which refresh generation the last batch consumed,
    * and the pinned (already partition-pruned) snapshot's size. At scale
    * this is the signal that tells an operator whether a slow stream is
    * re-reading a huge snapshot every generation or draining it in chunks.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[
      org.apache.spark.sql.connector.read.streaming.Offset]): java.util.Map[String, String] =
    synchronized {
      val m = new java.util.HashMap[String, String]()
      Option(latestConsumedOffset.orElse(null)).foreach { o =>
        val off = RefTableOffset.fromJson(o.json())
        m.put("generation", off.gen.toString)
        snapshots.get(off.gen).foreach { fs =>
          m.put("snapshotFiles", fs.size.toString)
          m.put("snapshotBytes", fs.map(_.length).sum.toString)
          m.put("filesEmitted",
            (if (off.upTo >= 0) off.upTo else fs.size.toLong).toString)
        }
      }
      m
    }

  private var last: RefTableOffset = _
  private var availableNowGen: Option[Long] = None
  private val snapshots = scala.collection.mutable.Map.empty[Long, Seq[SnapshotFile]]
  // generations whose listing THIS instance pinned at emission time.
  // `snapshots.contains` is NOT that: replay of an uncommitted batch
  // (planInputPartitions) and prepareForTriggerAvailableNow both pin
  // listings incidentally, and treating those as "ours" would let a
  // restart continue a dead driver's chunked generation against a fresh
  // listing — stitching two listings into one snapshot.
  private val ownGens = scala.collection.mutable.Set.empty[Long]

  private def computeGen(nowMs: Long): Long =
    if (opts.refreshMs <= 0) 0L else nowMs / opts.refreshMs

  private def filesOf(gen: Long): Seq[SnapshotFile] =
    // partition pruning happens at pinning time: a generation of a
    // partitioned table under a partition filter IS the pruned listing
    // (offsets and admission-control slices count pruned files only)
    snapshots.getOrElseUpdate(gen, SnapshotFiles.pruned(opts, pushed.toSeq))

  override def initialOffset(): Offset = RefTableOffset(-1L, -1L, -1L)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      opts.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case several => ReadLimit.compositeLimit(several.toArray)
    }
  }

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    val gen = computeGen(System.currentTimeMillis())
    filesOf(gen)
    availableNowGen = Some(gen)
  }

  /** End index (exclusive, cumulative file count) for a batch starting at
    * `from`, under a read limit. Always admits at least one file.
    */
  private def sliceEnd(files: Seq[SnapshotFile], from: Int, limit: ReadLimit): Long = limit match {
    case m: ReadMaxFiles => math.min(from.toLong + m.maxFiles(), files.size.toLong)
    case b: ReadMaxBytes =>
      var i = from
      var bytes = 0L
      while (i < files.size && (i == from || bytes + files(i).length <= b.maxBytes())) {
        bytes += files(i).length
        i += 1
      }
      i.toLong
    case c: CompositeReadLimit =>
      c.getReadLimits.map(l => sliceEnd(files, from, l)).min
    case _ => files.size.toLong
  }

  override def latestOffset(): Offset = latestOffset(null, getDefaultReadLimit)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val prev = Option(last)
      .orElse(Option(start).map(_.asInstanceOf[RefTableOffset]))
      .getOrElse(RefTableOffset(-1L, -1L, -1L))
    val prevPinned = prev.gen >= 0 && ownGens.contains(prev.gen)
    val prevTotal = if (prev.gen >= 0) filesOf(prev.gen).size.toLong else 0L
    val prevUpTo = if (prev.upTo < 0) prevTotal else prev.upTo
    last =
      if (prev.gen >= 0 && prevUpTo < prevTotal && prevPinned) {
        // partially-emitted generation: finish it before any refresh —
        // snapshot identity requires the whole generation from one pinning
        RefTableOffset(prev.batch + 1, prev.gen,
          sliceEnd(filesOf(prev.gen), prevUpTo.toInt, limit), prev.wall)
      } else if (prev.gen >= 0 && !prevPinned && prev.upTo >= 0) {
        // restart recovered a chunked offset, but the pinning died with
        // the previous driver: the original listing (and its total file
        // count) is unknowable, so ANY chunked offset from a dead driver
        // is abandoned — even one whose upTo happens to equal the current
        // listing size, which may be a truncated emission of a larger old
        // listing. Continuing would stitch chunks from two different
        // listings into one "snapshot"; instead the current state is
        // re-emitted as a FRESH generation (reference restart semantics:
        // reload current state) — consumers keyed on the generation column
        // discard the partial one. At-least-once, never mixed-snapshot.
        // The generation number may run ahead of wall-clock here (gen
        // monotonicity), so the offset records the true wall-clock
        // generation separately — the next real refresh boundary is
        // detected against `wall`, not `gen`.
        val files = snapshots(prev.gen)
        val wallNow = computeGen(System.currentTimeMillis())
        val gen = math.max(wallNow, prev.gen + 1)
        snapshots(gen) = files
        RefTableOffset(prev.batch + 1, gen, sliceEnd(files, 0, limit), wallNow)
      } else {
        val wallNow = availableNowGen.getOrElse(computeGen(System.currentTimeMillis()))
        if (prev.gen < 0 || wallNow > prev.wallGen) {
          // new refresh boundary crossed (or first poll): emit a fresh
          // generation. `gen` stays strictly monotonic even if a prior
          // abandon pushed it past wall-clock. A boundary ALWAYS re-lists
          // (never reuse a listing pinned under a colliding older gen
          // number after a run-ahead — that would freeze the stream on a
          // stale listing forever); AvailableNow uses the listing pinned
          // at prepare time.
          val gen = math.max(wallNow, prev.gen + 1)
          val files = availableNowGen match {
            case Some(g) => filesOf(g)
            case None => SnapshotFiles.pruned(opts, pushed.toSeq)
          }
          snapshots(gen) = files
          RefTableOffset(prev.batch + 1, gen, sliceEnd(files, 0, limit), wallNow)
        } else if (opts.emitPerTrigger && availableNowGen.isEmpty)
          // trigger-mode re-emission honors the admission caps too: a cycle
          // of chunked batches re-covers the snapshot, then restarts
          RefTableOffset(prev.batch + 1, prev.gen, sliceEnd(filesOf(prev.gen), 0, limit), prev.wall)
        else prev
      }
    // every generation this instance emits is owned from here on —
    // continuation of its chunks against this pinning is safe
    if (last != null && last.gen >= 0) ownGens += last.gen
    last
  }

  override def reportLatestOffset(): Offset = synchronized { last }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val e = end.asInstanceOf[RefTableOffset]
    if (e.batch < 0) return Array.empty
    val files = filesOf(e.gen)
    val hi = if (e.upTo < 0) files.size else math.min(e.upTo, files.size.toLong).toInt
    val lo = Option(start).map(_.asInstanceOf[RefTableOffset]) match {
      // continuation of a partially-emitted generation; anything else
      // (new generation, trigger-mode re-emission) starts from file 0
      case Some(s) if s.batch >= 0 && s.gen == e.gen && s.upTo >= 0 && s.upTo < hi =>
        math.min(s.upTo, files.size.toLong).toInt
      case _ => 0
    }
    RefTablePartitions.plan(files.slice(lo, hi), e.gen)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RefTableReaderFactory(opts, required, pushed)

  override def deserializeOffset(json: String): Offset = {
    val o = RefTableOffset.fromJson(json)
    synchronized { if (last == null || o.batch > last.batch) last = o }
    o
  }

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[RefTableOffset]
    snapshots.keys.filter(_ < e.gen).toList.foreach(snapshots.remove)
    ownGens.filter(_ < e.gen).toList.foreach(ownGens.remove)
  }

  override def stop(): Unit = synchronized { snapshots.clear(); ownGens.clear() }
}
