package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile

/** graft's one source of Hadoop configuration for its own metadata I/O and
  * per-task readers and writers.
  *
  * `new Configuration()` re-parses `core-default.xml` and probes every jar
  * on the classpath for `core-site.xml` the first time the copy is read —
  * several milliseconds per call. graft reads and lists files on every
  * micro-batch, commit and scan task, so that parse dominated the stream's
  * per-batch driver cost. Here the classpath defaults are loaded once per
  * JVM into a private base, and each caller gets `new Configuration(base)`:
  * a copy with exactly the keys and values a fresh `new Configuration()`
  * would have, at the cost of cloning a properties table.
  *
  * Copies are private to their caller: readers and writers set keys on
  * theirs, so a copy must never be shared or cached across callers. The
  * base itself is never handed out. If a library registers another default
  * resource later (`Configuration.addDefaultResource`), Hadoop reloads every
  * live configuration, the base included, so later copies still equal a
  * fresh one.
  *
  * Session `spark.hadoop.*` settings are not applied here, as they were not
  * with `new Configuration()` either.
  *
  * parquet-mr's convenience entry points build a configuration of their own
  * (`ParquetFileReader.open(file)` via `ParquetReadOptions.builder()`,
  * `ParquetReader.builder(readSupport, path)` before `withConf` replaces
  * it), so graft opens parquet files through the two helpers below, which
  * hand parquet the caller's copy instead.
  */
object HadoopConf {

  private lazy val base: Configuration = {
    val c = new Configuration()
    c.size() // parse the default resources now, once
    c
  }

  /** A private, mutable copy of the JVM-wide default configuration. */
  def copy(): Configuration = new Configuration(base)

  /** A footer/row-group reader for `path` whose read options come from `conf`. */
  def openParquet(path: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())

  /** A record-reader builder for `path` in parquet's example `Group` model,
    * reading with `conf` (including its `ReadSupport.PARQUET_READ_SCHEMA`).
    */
  def groupReader(path: Path, conf: Configuration): ParquetReader.Builder[Group] =
    new GroupReaderBuilder(HadoopInputFile.fromPath(path, conf))

  private final class GroupReaderBuilder(file: HadoopInputFile) extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
  }
}
