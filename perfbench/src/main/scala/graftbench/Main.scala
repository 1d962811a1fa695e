package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload sees: the session, the run's seed and core count. */
final case class Env(spark: SparkSession, seed: Long, cores: Int) {
  /** Sets the track that Spark jobs submitted from this thread are traced on. */
  def onTrack(track: String): Unit = spark.sparkContext.setLocalProperty(Listeners.TrackProp, track)
}

/** One benchmark workload. `setup` seeds inputs under `dir`; `warm` runs
  * the workload's operations once each so caches and the JIT reach a steady
  * state; `run` measures one phase of `seconds` seconds into `rec`,
  * recording every attempted operation and checking each result it can.
  */
trait Workload {
  type State
  def setup(env: Env, dir: String): State
  def warm(env: Env, st: State): Unit
  def run(env: Env, st: State, rec: Recorder, seconds: Int): Unit
}

/** Runs one workload and writes the raw measurements as JSON; `run.py`
  * turns them into metrics.
  *
  * Usage: Main --workload lookup|churn|curation --seed N --seconds S
  *             --trace 0|1 --scratch DIR --out FILE
  *
  * With `--trace 1` the workload runs twice after set-up, first untraced and
  * then with spans and listeners, so the difference is the tracing overhead.
  */
object Main {
  /** Session start and input seeding are repeated and their median kept,
    * so one slow JVM start does not decide the metric; the last
    * repetition's inputs are measured. Warm-up runs once, after them.
    */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload: Workload = a("workload") match {
      case "lookup" => Lookup
      case "churn" => Churn
      case "curation" => CurationPipeline
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val seconds = a("seconds").toInt
    val scratch = a("scratch")
    val cores = Runtime.getRuntime.availableProcessors()

    var spark: SparkSession = null
    var state: workload.State = null.asInstanceOf[workload.State]
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = Recorder.now()
      if (spark != null) spark.stop()
      spark = session(cores, scratch)
      state = workload.setup(Env(spark, a("seed").toLong, cores), s"$scratch/setup$rep")
      (Recorder.now() - t0) / 1000.0
    }
    val env = Env(spark, a("seed").toLong, cores)
    env.onTrack("main")
    val w0 = Recorder.now()
    workload.warm(env, state)
    val warmS = (Recorder.now() - w0) / 1000.0

    val untraced = new Recorder(traced = false)
    workload.run(env, state, untraced, seconds)
    val traced = if (a("trace") == "1") {
      val rec = new Recorder(traced = true)
      val listeners = new Listeners(spark, rec)
      listeners.attach()
      try workload.run(env, state, rec, seconds) finally listeners.detach()
      Some(rec)
    } else None

    val phases = Seq("untraced" -> untraced.json) ++ traced.map(r => "traced" -> r.json)
    val out = Recorder.obj(Seq(
      "workload" -> Recorder.str(a("workload")),
      "cores" -> cores.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "setup_s" -> setupS.map(Recorder.num).mkString("[", ",", "]"),
      "warmup_s" -> Recorder.num(warmS),
      "peak_rss_mb" -> Recorder.num(peakRssMb()),
      "phases" -> Recorder.obj(phases)))
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The benchmark's own session: `local[cores]`, two shuffle partitions per
    * core, every local directory under the run's scratch root.
    */
  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
