package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.reftable.HadoopConf
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The Hadoop configuration seam: copies of the once-loaded base behave
  * exactly like the per-call `new Configuration()` they replace, stay
  * private to their caller, and nothing in main code goes back to a fresh
  * parse per call.
  */
class HadoopConfSpec extends AnyFunSuite {

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  test("a copy holds exactly the keys and values of new Configuration()") {
    val fresh = new Configuration()
    val copy = HadoopConf.copy()
    val want = entries(fresh)
    assert(want.size > 100, s"defaults not loaded: ${want.size} keys")
    assert(entries(copy) == want)
    // variable expansion reads through the same properties
    want.keys.foreach(k => assert(copy.get(k) == fresh.get(k), k))
  }

  test("a mutated copy leaks into neither the base nor another copy") {
    val defaults = entries(new Configuration())
    val key = "io.file.buffer.size"
    assert(defaults.contains(key))
    val a = HadoopConf.copy()
    val b = HadoopConf.copy()
    a.set(key, "1")
    a.set("graft.hadoopconf.spec", "set")
    a.unset("fs.defaultFS")
    assert(b.get(key) == defaults(key))
    assert(b.get("graft.hadoopconf.spec") == null)
    assert(b.get("fs.defaultFS") == defaults("fs.defaultFS"))
    assert(entries(HadoopConf.copy()) == defaults)
    // copies taken concurrently with mutation of other copies stay clean
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (1 to 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Map[String, String]] {
          override def call(): Map[String, String] = {
            val c = HadoopConf.copy()
            c.set(key, i.toString)
            c.set(s"graft.hadoopconf.spec.$i", "x")
            entries(HadoopConf.copy())
          }
        })
      }
      tasks.foreach(t => assert(t.get() == defaults))
    } finally pool.shutdown()
  }

  test("main code opens Hadoop configuration and parquet files only through the seam") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val seam = Paths.get("src", "main", "scala", "graft", "sources", "reftable", "HadoopConf.scala")
    val banned = Seq("new Configuration()", "new org.apache.hadoop.conf.Configuration()",
      "ParquetReader.builder(")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .filterNot(_.normalize() == seam.normalize()).toList
    assert(files.size > 20)
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(line.contains) || oneArgParquetOpen(line)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the source guard recognises the one-argument parquet open") {
    assert(oneArgParquetOpen("val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))"))
    assert(oneArgParquetOpen("org.apache.parquet.hadoop.ParquetFileReader.open(in)"))
    assert(oneArgParquetOpen("ParquetFileReader.open("))
    assert(!oneArgParquetOpen("ParquetFileReader.open(HadoopInputFile.fromPath(p, c), opts)"))
    assert(!oneArgParquetOpen("ParquetFileReader.open(in,"))
  }

  /** `ParquetFileReader.open(` whose argument list (on this line) has no
    * top-level comma; a call split after its first argument reads as
    * two-argument.
    */
  private def oneArgParquetOpen(line: String): Boolean = {
    val marker = "ParquetFileReader.open("
    var from = line.indexOf(marker)
    while (from >= 0) {
      var depth = 0
      var i = from + marker.length
      var comma = false
      var closed = false
      while (i < line.length && !comma && !closed) {
        line.charAt(i) match {
          case '(' => depth += 1
          case ')' => if (depth == 0) closed = true else depth -= 1
          case ',' if depth == 0 => comma = true
          case _ =>
        }
        i += 1
      }
      if (!comma) return true
      from = line.indexOf(marker, i)
    }
    false
  }
}
