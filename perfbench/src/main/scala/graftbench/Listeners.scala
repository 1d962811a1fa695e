package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced phase's view from outside the program, through Spark's public
  * listener APIs only: job spans with their task metrics, streaming progress
  * phases as child spans of each trigger, and the reftable scan metrics of
  * every executed query. Jobs carry the submitting thread's track through the
  * `graftbench.track` local property; the analysis parents them by time.
  */
final class Listeners(spark: SparkSession, rec: Recorder) {
  import Listeners._

  private final class Job(val t0: Double, val track: String) {
    val m = new Array[Double](TaskKeys.size) // summed task metrics, TaskKeys order
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val track = Option(e.properties).flatMap(p => Option(p.getProperty(TrackProp))).getOrElse("main")
      jobs.put(e.jobId, new Job(e.time.toDouble, track))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val tm = e.taskMetrics
      j.filter(_ => tm != null).foreach { job =>
        val info = e.taskInfo
        val sched = info.duration - tm.executorRunTime - tm.executorDeserializeTime -
          tm.resultSerializationTime - info.gettingResultTime
        val vals = Array[Double](1, tm.executorRunTime, tm.executorCpuTime / 1e6, tm.jvmGCTime,
          tm.shuffleWriteMetrics.bytesWritten, tm.shuffleReadMetrics.totalBytesRead,
          tm.memoryBytesSpilled + tm.diskBytesSpilled, math.max(0L, sched))
        job.m.synchronized { vals.indices.foreach(i => job.m(i) += vals(i)) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        rec.addSpan(rec.newId(), -1L, -1L, "job", "spark", j.track, j.t0, e.time.toDouble,
          TaskKeys.zip(j.m.synchronized(j.m.clone())): _*)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val gen = p.sources.headOption.flatMap(s => GenRe.findFirstMatchIn(Option(s.endOffset).getOrElse("")))
        .map(_.group(1).toDouble).getOrElse(-1.0)
      val trigger = rec.newId()
      rec.addSpan(trigger, -1L, -1L, "trigger", "RefTableMicroBatchStream", "stream",
        t0, t0 + dur("triggerExecution"), "gen" -> gen, "rows" -> p.numInputRows.toDouble)
      // MicroBatchExecution runs these phases one after another, in this order
      var at = t0
      TriggerPhases.foreach { case (phase, layer) =>
        val ms = dur(phase)
        if (ms > 0) rec.addSpan(rec.newId(), trigger, -1L, phase, layer, "stream", at, at + ms)
        at += ms
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Plans.foreach(qe.executedPlan) { node =>
        val m = node.metrics
        if (m.contains("filesRead")) {
          def v(k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
          Seq("filesListed", "filesPruned", "filesRead", "splitBytes", "dvRowsSkipped",
            "numOutputRows").foreach(k => rec.sample(s"scan.$k", v(k)))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Detaches, after the listener bus has delivered what is queued. */
  def detach(): Unit = {
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Listeners {
  val TrackProp = "graftbench.track"
  val TaskKeys: Seq[String] = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "scheduler_delay_ms")
  private val GenRe = "\"gen\"\\s*:\\s*(-?\\d+)".r
  private val TriggerPhases = Seq(
    "latestOffset" -> "SnapshotFiles", "walCommit" -> "RefTableMicroBatchStream",
    "getBatch" -> "RefTableMicroBatchStream", "queryPlanning" -> "RefTableMicroBatchStream",
    "addBatch" -> "RefTableMicroBatchStream", "commitOffsets" -> "RefTableMicroBatchStream")

  private object Plans extends AdaptiveSparkPlanHelper
}
