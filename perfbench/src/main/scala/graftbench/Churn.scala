package graftbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.reftable.{RefTableMutations, RefTableOptions, RefTableWrites, VersionedTable}

/** A closed loop with one client committing back to back to one versioned
  * table: appends, merge-on-read upserts and deletes, copy-on-write upserts,
  * and a compaction plus vacuum every tenth commit, in a fixed [[Cycle]].
  * After every commit it runs a filtered batch read pinned (reftable option
  * `version`) to the new version or the one before.
  *
  * Sizes: 20,000 initial rows in 4 range-clustered files; appends of 200
  * rows, MoR upserts of 100 rows (80 existing keys), MoR deletes of a 30-key
  * range, COW upserts of the live keys in a 60-key range; reads of a
  * 2,000-key range. At about one commit per second on 4 cores a run passes
  * one or two compactions; it stays inside the 32-deep manifest chain and
  * the 256-entry manifest-resolution cache.
  *
  * Correctness: every pinned read and the final table must equal a serial
  * in-memory model of the seeded op log.
  */
object Churn extends Workload {
  val InitialRows = 20000
  val Files = 4
  val Groups = 16
  val AppendRows = 200
  val MorUpsertRows = 100
  val MorUpsertNew = 20
  val DeleteRange = 30
  val CowRange = 60
  val ReadRange = 2000
  /** The commit kinds in the order every run issues them; the seed picks
    * only keys and values, so every seed measures the same mix. MoR upserts,
    * the CDC-apply shape, are the majority, so the median commit lands inside
    * one kind's cluster instead of between two.
    */
  val Cycle: Vector[String] = Vector("upsert_mor", "append", "upsert_mor", "delete_mor", "upsert_mor",
    "upsert_mor", "upsert_cow", "upsert_mor", "upsert_mor", "compact")
  val CompactFileBytes = 512L * 1024
  private val Ddl = "id BIGINT, grp INT, val BIGINT, payload STRING"
  private val Schema = StructType(Seq(StructField("id", LongType), StructField("grp", IntegerType),
    StructField("val", LongType), StructField("payload", StringType)))

  final class State(val root: String, val model: java.util.TreeMap[java.lang.Long, java.lang.Long]) {
    val opts: RefTableOptions = RefTableOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> root, "schema" -> Ddl).asJava))
    var version = ""
    var nextId: Long = InitialRows
    var commits = 0
    var phase = 0
  }

  private def payload(id: Long): String = f"payload-$id%012d-" + ("x" * (id % 24).toInt)
  private def row(id: Long, v: Long): Row = Row(id, (id % Groups).toInt, v, payload(id))
  private def userBytes(id: Long): Double = 8 + 4 + 8 + payload(id).length

  def setup(env: Env, dir: String): State = {
    val spark = env.spark
    val rnd = new SplittableRandom(env.seed)
    val model = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    (0L until InitialRows).foreach(id => model.put(id, 1L + rnd.nextLong(1000000L)))
    val st = new State(s"$dir/churn", model)
    VersionedTable.publish(frame(env, model.asScala.toSeq.map { case (k, v) => (k.longValue, v.longValue) })
      .repartitionByRange(Files, col("id")), st.root)
    st.version = current(st)
    st
  }

  /** One commit of every kind, each followed by its read. */
  def warm(env: Env, st: State): Unit = {
    val warm = new Recorder(traced = false)
    val warmRnd = new SplittableRandom(env.seed * 31)
    Cycle.distinct.foreach { kind =>
      st.commits = Cycle.indexOf(kind)
      step(env, st, warm, warmRnd)
    }
    if (warm.errorCount > 0) throw new IllegalStateException(s"churn warm-up failed: ${warm.json}")
    st.commits = 0
  }

  private def frame(env: Env, rows: Seq[(Long, Long)]): DataFrame =
    env.spark.createDataFrame(rows.map { case (id, v) => row(id, v) }.asJava, Schema)

  private def current(st: State): String =
    new Path(VersionedTable.resolve(st.root).getOrElse(
      throw new IllegalStateException(s"${st.root} has no current version"))).getName

  /** (count, sum(val), sum(pmod(id, 997) * val)) over ids in [lo, lo + ReadRange). */
  private def expected(model: java.util.TreeMap[java.lang.Long, java.lang.Long], lo: Long): (Long, Long, Long) = {
    var (n, s, c) = (0L, 0L, 0L)
    model.subMap(lo, lo + ReadRange).asScala.foreach { case (id, v) =>
      n += 1; s += v; c += (id % 997) * v
    }
    (n, s, c)
  }

  private def pinnedRead(env: Env, st: State, version: String, lo: Long): (Long, Long, Long) = {
    val r = env.spark.read.format("reftable").option("path", st.root).option("schema", Ddl)
      .option("version", version).load()
      .filter(col("id") >= lo && col("id") < lo + ReadRange)
      .agg(count(lit(1)), coalesce(sum(col("val")), lit(0L)),
        coalesce(sum(pmod(col("id"), lit(997L)) * col("val")), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Existing keys, distinct, found by probing the id space. */
  private def liveKeys(st: State, rnd: SplittableRandom, n: Int): Seq[Long] =
    Iterator.continually(rnd.nextLong(st.nextId)).filter(id => st.model.containsKey(id))
      .distinct.take(n).toSeq

  def run(env: Env, st: State, rec: Recorder, seconds: Int): Unit = {
    val spark = env.spark
    st.phase += 1
    val rnd = new SplittableRandom(env.seed * 31 + st.phase)
    val start = Recorder.now()
    val end = start + seconds * 1000.0
    rec.windowStart = start
    rec.windowEnd = end
    while (Recorder.now() < end) step(env, st, rec, rnd)

    rec.timedOp("check.final", "bench", "main") {
      val r = spark.read.format("reftable").option("path", st.root).option("schema", Ddl).load()
        .agg(count(lit(1)), coalesce(sum(col("val")), lit(0L)),
          coalesce(sum(pmod(col("id"), lit(997L)) * col("val")), lit(0L)))
        .first()
      var (n, s, c) = (0L, 0L, 0L)
      st.model.asScala.foreach { case (id, v) => n += 1; s += v; c += (id % 997) * v }
      val ok = (r.getLong(0), r.getLong(1), r.getLong(2)) == ((n, s, c))
      if (!ok) rec.error(s"final table ${(r.getLong(0), r.getLong(1), r.getLong(2))} != model ${(n, s, c)}")
      ok
    }
  }

  /** One commit of the next kind in [[Cycle]], then a pinned read of the
    * new version or the one before it (after a compaction, a vacuum).
    */
  private def step(env: Env, st: State, rec: Recorder, rnd: SplittableRandom): Unit = {
    val spark = env.spark
    val before = if (rec.traced) rec.span("bookkeeping", "bench", "main")(listFiles(st.root)) else Nil
    val pinPrev = rnd.nextInt(2) == 0
    val lo = rnd.nextLong(math.max(1L, st.nextId - ReadRange / 2))
    val prevVersion = st.version
    val prevExpected = if (pinPrev) expected(st.model, lo) else null

    val kind = Cycle(st.commits % Cycle.size)
    val (layer, changed, userBytesIn, commit): (String, Int, Double, () => Unit) = kind match {
      case "compact" =>
        ("VersionedTable", 0, 0.0, () => {
          VersionedTable.compact(spark, st.root, targetFileBytes = CompactFileBytes); ()
        })
      case "append" =>
        val rows = (st.nextId until st.nextId + AppendRows).map(id => id -> (1L + rnd.nextLong(1000000L)))
        st.nextId += AppendRows
        ("VersionedTable", rows.size, rows.map(r => userBytes(r._1)).sum, () => {
          RefTableWrites.appendVersion(st.opts, frame(env, rows))
          rows.foreach { case (id, v) => st.model.put(id, v) }
        })
      case "upsert_mor" =>
        val fresh = st.nextId until st.nextId + MorUpsertNew
        st.nextId += MorUpsertNew
        val rows = (liveKeys(st, rnd, MorUpsertRows - MorUpsertNew) ++ fresh)
          .map(id => id -> (1L + rnd.nextLong(1000000L)))
        ("RefTableMutations", rows.size, rows.map(r => userBytes(r._1)).sum, () => {
          RefTableMutations.upsertMergeOnRead(spark, st.root, frame(env, rows), Seq("id"))
          rows.foreach { case (id, v) => st.model.put(id, v) }
        })
      case "delete_mor" =>
        val at = rnd.nextLong(st.nextId)
        val doomed = st.model.subMap(at, at + DeleteRange).keySet.asScala.toSeq
        val cond: Column = col("id") >= at && col("id") < at + DeleteRange
        ("RefTableMutations", doomed.size, 8.0 * doomed.size, () => {
          RefTableMutations.deleteWhereMergeOnRead(spark, st.root, cond)
          doomed.foreach(id => st.model.remove(id))
        })
      case "upsert_cow" =>
        val at = rnd.nextLong(st.nextId)
        val rows = st.model.subMap(at, at + CowRange).keySet.asScala.toSeq
          .map(id => id.longValue -> (1L + rnd.nextLong(1000000L)))
        ("RefTableMutations", rows.size, rows.map(r => userBytes(r._1)).sum, () => {
          RefTableMutations.upsert(spark, st.root, frame(env, rows), Seq("id"))
          rows.foreach { case (id, v) => st.model.put(id, v) }
        })
    }

    val committed = rec.timedOp(kind, layer, "main") { commit(); true }
    st.commits += 1
    if (committed) {
      st.version = rec.span("resolve", "VersionedTable", "main")(current(st))
      if (rec.traced && kind != "compact")
        rec.span("bookkeeping", "bench", "main")(recordFiles(rec, st, kind, before, changed, userBytesIn))
    }
    if (kind == "compact")
      rec.timedOp("vacuum", "VersionedTable", "main") {
        VersionedTable.vacuum(st.root, keepVersions = 3)
        true
      }
    else {
      val (pin, want) = if (pinPrev) (prevVersion, prevExpected) else (st.version, expected(st.model, lo))
      rec.timedOp("read", "RefTableReader", "main") {
        val got = pinnedRead(env, st, pin, lo)
        if (got != want) rec.error(s"read of $pin [$lo, ${lo + ReadRange}): $got != model $want")
        got == want
      }
    }
  }

  /** Regular files under the table root with their sizes. */
  private def listFiles(root: String): Seq[(String, Long)] = {
    val p = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => f.toString -> java.nio.file.Files.size(f)).toList
    finally s.close()
  }

  /** What one commit wrote: data and metadata files, bytes per user byte,
    * and for COW upserts the rows rewritten per row changed.
    */
  private def recordFiles(rec: Recorder, st: State, kind: String, before: Seq[(String, Long)],
      changed: Int, userBytesIn: Double): Unit = {
    val old = before.map(_._1).toSet
    val added = listFiles(st.root).filterNot(f => old.contains(f._1))
    val (data, meta) = added.partition(_._1.endsWith(".parquet"))
    rec.sample("commit.data_files", data.size)
    rec.sample("commit.metadata_files", meta.size)
    rec.sample("commit.bytes", added.map(_._2).sum.toDouble)
    rec.sample("commit.user_bytes", userBytesIn)
    if (kind == "upsert_cow" && changed > 0) {
      val conf = new Configuration()
      val rows = data.filterNot(_._1.contains("/_DV")).map { case (f, _) =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf))
        try r.getRecordCount finally r.close()
      }.sum
      rec.sample("cow.rows_rewritten_per_changed", rows.toDouble / changed)
    }
  }
}
