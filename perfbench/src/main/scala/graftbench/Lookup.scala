package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.reftable.{RefTableMutations, VersionedTable}

/** The paper's use case: a reftable stream re-reads a versioned lookup table
  * every refresh interval and is stream-static joined to `events`, while one
  * writer thread upserts about 1% of the keys once per interval.
  *
  * Sizes (4 cores): 2,500 lookup keys in 4 files, 10,000 events over 3,125
  * user ids. A generation's batch costs 0.6-0.7 s here whatever the snapshot
  * size (per-batch planning and scheduling dominate), so at the 1 s minimum
  * interval the stream runs at saturation and its lag swings with machine
  * noise; the 2 s interval keeps the lag well under the interval, and every
  * boundary should yield one generation. The window opens `WarmGenerations`
  * generations after the stream starts, so stream start-up and the first
  * cold batches are not measured.
  *
  * Correctness: each generation's count and checksum must equal the join at
  * one of the published versions, computed from an in-memory model of the
  * writer's upserts, and versions must appear in publish order.
  */
object Lookup extends Workload {
  val Keys = 2500
  val Events = 10000
  val UserIds = 3125
  val Files = 4
  val RefreshMs = 2000L
  val UpsertShare = 0.01
  val KeepVersions = 5
  val WarmGenerations = 2
  val WarmRounds = 2
  val WarmBatches = 8
  private val Ddl = "key BIGINT, val BIGINT, name STRING"
  private val TableSchema = StructType(Seq(StructField("key", LongType), StructField("val", LongType),
    StructField("name", StringType)))

  final class State(val root: String, val eventsPath: String, val scratch: String,
      val userIds: Array[Int], val vals: Array[Long]) {
    var phase = 0
  }

  def setup(env: Env, dir: String): State = {
    val spark = env.spark
    val rnd = new SplittableRandom(env.seed)
    val vals = Array.fill(Keys)(1L + rnd.nextLong(1000000L))
    val userIds = Array.fill(Events)(rnd.nextInt(UserIds))
    val evRows = (0 until Events).map(i =>
      Row(i.toLong, userIds(i).toLong, EventTypes(i % EventTypes.size), (i % 10000) / 100.0))
    val evSchema = StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val eventsPath = s"$dir/events"
    spark.createDataFrame(evRows.asJava, evSchema).repartition(env.cores).write.parquet(eventsPath)
    val root = s"$dir/lookup"
    VersionedTable.publish(
      spark.createDataFrame(vals.indices.map(k => Row(k.toLong, vals(k), s"user-$k")).asJava, TableSchema)
        .repartitionByRange(Files, col("key")),
      root, KeepVersions)
    new State(root, eventsPath, dir, userIds, vals)
  }

  /** `WarmRounds` writer upserts, then `WarmBatches` micro-batches of the
    * same stream and sink in `emitMode=trigger`, which re-emits the snapshot
    * on every trigger, so the stream's code paths warm without waiting for
    * refresh boundaries.
    */
  def warm(env: Env, st: State): Unit = {
    val rnd = new SplittableRandom(env.seed * 31)
    (1 to WarmRounds).foreach(_ => upsert(env, st, rnd))
    val want = model(st, st.vals)
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val query = sink(env, st, "trigger", "checkpoint-warm") { b =>
      if ((b.n, b.sum) != want) throw new IllegalStateException(s"lookup warm-up batch ${(b.n, b.sum)} != $want")
      seen.incrementAndGet()
    }
    try {
      val deadline = Recorder.now() + 120000
      while (seen.get() < WarmBatches && query.isActive && Recorder.now() < deadline) Thread.sleep(20)
    } finally query.stop()
    query.exception.foreach(e => throw e)
    if (seen.get() < WarmBatches) throw new IllegalStateException("lookup warm-up stream stalled")
  }

  /** The measured query: the reftable stream joined to `events`, each batch
    * reduced on the executors to a count and checksum handed to `onBatch`.
    */
  private def sink(env: Env, st: State, emitMode: String, checkpoint: String)(
      onBatch: Batch => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = env.spark
    val stream = spark.readStream.format("reftable").option("path", st.root).option("schema", Ddl)
      .option("refreshInterval", s"${RefreshMs / 1000}s").option("emitMode", emitMode)
      .option("genColumn", "_gen").load()
    val events = spark.read.parquet(st.eventsPath).select("event_id", "user_id")
    val joined = stream.join(events, col("key") === col("user_id"))
      .select(col("event_id"), col("val"), col("_gen"))
    env.onTrack("stream") // inherited by the stream's execution thread
    try joined.writeStream
      .option("checkpointLocation", s"${st.scratch}/$checkpoint")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val r = df.agg(count(lit(1)), coalesce(sum(col("event_id") * col("val")), lit(0L)),
          max(col("_gen")), min(col("_gen"))).first()
        if (!r.isNullAt(2)) onBatch(Batch(id, r.getLong(2), r.getLong(3), r.getLong(0), r.getLong(1),
          Recorder.now()))
        ()
      }.start()
    finally env.onTrack("main")
  }

  private val EventTypes = Seq("view", "click", "buy", "error")

  private def joinStats(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("event_id") * col("val")), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Count and checksum of the join at one table state. */
  private def model(st: State, vals: Array[Long]): (Long, Long) = {
    var n = 0L
    var s = 0L
    var i = 0
    while (i < Events) {
      val u = st.userIds(i)
      if (u < Keys) { n += 1; s += i.toLong * vals(u) }
      i += 1
    }
    (n, s)
  }

  private final case class Batch(id: Long, gen: Long, genMin: Long, n: Long, sum: Long, doneMs: Double)

  def run(env: Env, st: State, rec: Recorder, seconds: Int): Unit = {
    val spark = env.spark
    st.phase += 1
    val vals = st.vals // advanced by the writer, carried across phases
    val versions = ArrayBuffer(model(st, vals)) // (count, checksum) per published version
    val batches = new ConcurrentLinkedQueue[Batch]()

    val query = sink(env, st, "refresh", s"checkpoint-${st.phase}")(batches.add(_))

    try {
      val warmDeadline = Recorder.now() + 120000
      while (batches.isEmpty && Recorder.now() < warmDeadline && query.isActive) Thread.sleep(20)
      if (batches.isEmpty) throw new IllegalStateException(
        s"lookup stream produced no generation: ${query.exception.map(_.getMessage).getOrElse("timeout")}")
      val start = (math.floor(Recorder.now() / RefreshMs) + 1 + WarmGenerations) * RefreshMs
      val end = start + seconds * 1000.0
      rec.windowStart = start
      rec.windowEnd = end

      val writer = new Thread(() => {
        env.onTrack("writer")
        val rnd = new SplittableRandom(env.seed * 31 + st.phase)
        var tick = -WarmGenerations
        while (start + tick * RefreshMs < end) {
          val due = start + tick * RefreshMs + RefreshMs / 2
          rec.span("wait", "wait", "writer")(sleepUntil(due))
          rec.timedOp("upsert_cow", "RefTableMutations", "writer") {
            upsert(env, st, rnd)
            versions.synchronized(versions += model(st, vals))
            true
          }
          tick += 1
        }
      }, "graftbench-writer")
      writer.setDaemon(true)
      writer.start()
      writer.join()
      // let the generations whose boundary fell inside the window finish
      val lastGen = ((end - 1) / RefreshMs).toLong
      val drainDeadline = Recorder.now() + 10000
      while (!batches.asScala.exists(_.gen >= lastGen) && Recorder.now() < drainDeadline && query.isActive)
        Thread.sleep(20)
    } finally query.stop()
    query.exception.foreach(e => rec.error(s"stream: ${e.getMessage}".take(400)))

    // each generation must be the join at some published version, in order
    val index = versions.zipWithIndex.toMap
    var lastVersion = 0
    batches.asScala.toSeq.sortBy(_.id).foreach { b =>
      val v = index.get((b.n, b.sum))
      val ok = b.gen == b.genMin && v.exists(_ >= lastVersion)
      if (!ok) rec.error(s"generation ${b.gen}: (${b.n}, ${b.sum}) matches no version in publish order")
      v.foreach(i => lastVersion = math.max(lastVersion, i))
      rec.op("generation", b.gen * RefreshMs.toDouble, b.doneMs, ok, "gen" -> b.gen.toDouble,
        "interval_ms" -> RefreshMs.toDouble)
    }
    rec.timedOp("check.final", "bench", "main") {
      val got = joinStats(spark.read.format("reftable").option("path", st.root).option("schema", Ddl)
        .load().join(spark.read.parquet(st.eventsPath), col("key") === col("user_id")))
      val ok = got == versions.last
      if (!ok) rec.error(s"final table join $got != model ${versions.last}")
      ok
    }
  }

  /** Copy-on-write upsert of `UpsertShare` of the keys, seeded; applied to
    * the model once committed.
    */
  private def upsert(env: Env, st: State, rnd: SplittableRandom): Unit = {
    val keys = Iterator.continually(rnd.nextInt(Keys)).distinct.take((Keys * UpsertShare).toInt).toArray
    val newVals = keys.map(_ => 1L + rnd.nextLong(1000000L))
    val src = env.spark.createDataFrame(
      keys.indices.map(i => Row(keys(i).toLong, newVals(i), s"user-${keys(i)}")).asJava, TableSchema)
    RefTableMutations.upsert(env.spark, st.root, src, Seq("key"), keepVersions = KeepVersions)
    keys.indices.foreach(i => st.vals(keys(i)) = newVals(i))
  }

  private def sleepUntil(t: Double): Unit = {
    val ms = t - Recorder.now()
    if (ms > 0) Thread.sleep(ms.toLong, ((ms - ms.toLong) * 1e6).toInt)
  }
}
