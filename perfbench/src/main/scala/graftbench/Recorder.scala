package graftbench

import scala.collection.mutable.ArrayBuffer

/** Everything one measurement phase records, kept in memory and written out
  * as JSON when the run ends. Times are epoch milliseconds as doubles, taken
  * from one monotonic origin, so spans from the benchmark, from Spark's
  * listener events (wall-clock stamped) and from streaming progress share one
  * axis. All methods are thread-safe: the lookup workload records from the
  * stream, writer and listener-bus threads at once.
  */
final class Recorder(val traced: Boolean) {
  import Recorder._

  private val ops = ArrayBuffer.empty[String]
  private val spans = ArrayBuffer.empty[String]
  private val samples = ArrayBuffer.empty[String]
  private val errors = ArrayBuffer.empty[String]
  @volatile var windowStart: Double = 0.0
  @volatile var windowEnd: Double = 0.0
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val opId = new ThreadLocal[Long] { override def initialValue(): Long = -1L }

  def newId(): Long = ids.incrementAndGet()

  /** One user-visible operation: attempted, and failed when `ok` is false. */
  def op(kind: String, t0: Double, t1: Double, ok: Boolean, extra: (String, Double)*): Unit =
    synchronized {
      ops += obj(Seq("k" -> str(kind), "t0" -> num(t0), "t1" -> num(t1), "ok" -> ok.toString) ++
        extra.map { case (k, v) => k -> num(v) })
    }

  /** Runs `body` as an operation of `kind` and as the root span of its op
    * id. A throw or a `false` verdict counts as a failed op; the exception
    * is recorded and swallowed so the run goes on.
    */
  def timedOp(kind: String, layer: String, track: String)(body: => Boolean): Boolean = {
    val id = newId()
    opId.set(id)
    val t0 = now()
    val ok = try span(kind, layer, track)(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        error(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)); false
    }
    val t1 = now()
    opId.set(-1L)
    op(kind, t0, t1, ok)
    ok
  }

  /** A span around a call into a layer; recorded only in a traced phase. */
  def span[T](name: String, layer: String, track: String)(body: => T): T =
    if (!traced) body
    else {
      val id = newId()
      val parent = stack.get().headOption.getOrElse(-1L)
      stack.set(id :: stack.get())
      val t0 = now()
      try body
      finally {
        stack.set(stack.get().tail)
        addSpan(id, parent, opId.get(), name, layer, track, t0, now())
      }
    }

  def addSpan(id: Long, parent: Long, op: Long, name: String, layer: String, track: String,
      t0: Double, t1: Double, extra: (String, Double)*): Unit = if (traced) synchronized {
    spans += obj(Seq("id" -> id.toString, "parent" -> parent.toString, "op" -> op.toString,
      "name" -> str(name), "layer" -> str(layer), "track" -> str(track),
      "t0" -> num(t0), "t1" -> num(t1)) ++ extra.map { case (k, v) => k -> num(v) })
  }

  /** A named numeric sample (a count or ratio measured at a layer boundary). */
  def sample(name: String, v: Double): Unit = synchronized {
    samples += obj(Seq("name" -> str(name), "v" -> num(v)))
  }

  def error(msg: String): Unit = synchronized { errors += str(msg) }
  def errorCount: Int = synchronized(errors.size)

  def json: String = synchronized {
    obj(Seq("traced" -> traced.toString, "window" -> s"[${num(windowStart)},${num(windowEnd)}]",
      "ops" -> ops.mkString("[", ",", "]"), "spans" -> spans.mkString("[", ",", "]"),
      "samples" -> samples.mkString("[", ",", "]"), "errors" -> errors.mkString("[", ",", "]")))
  }
}

object Recorder {
  private val originNano = System.nanoTime()
  private val originWallMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds on a monotonic clock. */
  def now(): Double = originWallMs + (System.nanoTime() - originNano) / 1e6

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
