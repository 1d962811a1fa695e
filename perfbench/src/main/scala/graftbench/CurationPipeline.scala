package graftbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup, IvfIndex, Similarity, TextAnalysis}

/** A batch training-data pipeline, run back to back over a seeded corpus:
  * `Dedup.dedupCorpus` (exact + MinHash-LSH near duplicates), then
  * `TextAnalysis.qualityScore`, `IvfIndex.build` and batches of
  * `IvfIndex.topK` queries over the survivors, then `Curation.packSequences`.
  *
  * Sizes: 1,500 base documents of 40-80 words over a 200-word vocabulary,
  * plus 75 planted exact copies and 75 planted near copies (one word
  * replaced, shingle Jaccard >= 0.85); 32-dimensional embeddings around 16
  * cluster centres, which are the IVF codebook; 4 query batches of 16
  * queries per pass, k = 10, nProbe = 4; sequences of 256 tokens.
  *
  * Correctness: dedup keeps exactly the base documents (so the exact-dup
  * count equals the planted count and near-dup recall is 1); quality and
  * packing totals equal the model's token counts; IVF recall@10 against
  * exact `Similarity.cosineTopK` is at least `RecallFloor`.
  */
object CurationPipeline extends Workload {
  val BaseDocs = 1500
  val ExactCopies = 75
  val NearCopies = 75
  val Vocab = 200
  val Dim = 32
  val Cells = 16
  val Batches = 4
  val BatchQueries = 16
  val K = 10
  val NProbe = 4
  val SeqLen = 256
  val RecallFloor = 0.9
  val NearRecallFloor = 1.0
  val WarmDocs = 300

  private val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ids", ArrayType(IntegerType, containsNull = false)),
    StructField("v", ArrayType(DoubleType, containsNull = false))))

  final class State(val dir: String, val corpusPath: String, val centres: Array[Array[Double]],
      val vectors: Array[Array[Double]], val tokens: Array[Long]) {
    var pass = 0
  }

  def docs: Int = BaseDocs + ExactCopies + NearCopies

  def setup(env: Env, dir: String): State = {
    val spark = env.spark
    val rnd = new SplittableRandom(env.seed)
    val words = Array.fill(BaseDocs)(Array.fill(40 + rnd.nextInt(41))(rnd.nextInt(Vocab)))
    val originals = shuffled(rnd, BaseDocs).take(ExactCopies + NearCopies)
    val copies = originals.zipWithIndex.map { case (o, i) =>
      val w = words(o).clone()
      if (i >= ExactCopies) { val at = rnd.nextInt(w.length); w(at) = (w(at) + 1 + rnd.nextInt(Vocab - 1)) % Vocab }
      w
    }
    val allWords = words ++ copies
    val centres = Array.fill(Cells)(Array.fill(Dim)(rnd.nextGaussian()))
    val baseVecs = Array.tabulate(BaseDocs)(i =>
      centres(i % Cells).map(c => c + 0.3 * rnd.nextGaussian()))
    val vectors = baseVecs ++ originals.map(baseVecs(_))
    val rows = allWords.indices.map(i =>
      Row(i.toLong, allWords(i).map(w => s"w$w").mkString(" "), allWords(i).toSeq, vectors(i).toSeq))
    val corpusPath = s"$dir/corpus"
    spark.createDataFrame(rows.asJava, Schema).repartition(env.cores).write.parquet(corpusPath)
    new State(dir, corpusPath, centres, vectors, words.map(_.length.toLong))
  }

  /** One checked pass over the first `WarmDocs` base documents, with one
    * query batch.
    */
  def warm(env: Env, st: State): Unit = {
    val spark = env.spark
    val warmPath = s"${st.dir}/warm-corpus"
    spark.read.parquet(st.corpusPath).filter(col("doc_id") < WarmDocs).write.parquet(warmPath)
    val warm = new Recorder(traced = false)
    pass(env, st, warm, warmPath, WarmDocs, Double.PositiveInfinity, batches = 1)
    if (warm.errorCount > 0) throw new IllegalStateException(s"curation warm-up failed: ${warm.json}")
  }

  private def shuffled(rnd: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i => val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  def run(env: Env, st: State, rec: Recorder, seconds: Int): Unit = {
    val start = Recorder.now()
    val end = start + seconds * 1000.0
    rec.windowStart = start
    rec.windowEnd = end
    // the first pass always completes, so even a slow machine yields a pipeline time
    pass(env, st, rec, st.corpusPath, BaseDocs, Double.PositiveInfinity, Batches)
    while (Recorder.now() < end) pass(env, st, rec, st.corpusPath, BaseDocs, end, Batches)
    if (rec.traced) rec.span("lsh_candidates", "operators", "main") {
      val cands = Dedup.minHashLsh(env.spark.read.parquet(st.corpusPath), "doc_id", "text", threshold = 0.0)
        .count()
      rec.sample("lsh_candidates_per_dup", cands.toDouble / (ExactCopies + NearCopies))
    }
  }

  /** One pipeline pass over the corpus at `corpusPath`, whose first `base`
    * documents are the expected survivors, with `batches` query batches. A
    * stage starts only before `end`;
    * a pass cut short this way still records its stages but is not counted
    * as a pipeline run.
    */
  private def pass(env: Env, st: State, rec: Recorder, corpusPath: String, base: Int, end: Double,
      batches: Int): Unit = {
    val spark = env.spark
    import spark.implicits._
    st.pass += 1
    val rnd = new SplittableRandom(env.seed * 31 + st.pass)
    val centroids = st.centres.indices.map(i => (i.toLong, st.centres(i).toSeq)).toDF("cid", "cv")
    val indexRoot = s"${st.dir}/ivf"
    val surv = s"${st.dir}/survivors-${st.pass}"
    val baseTokens = st.tokens.take(base).sum
    val t0 = Recorder.now()
    var busy = 0.0
    var ok = true
    var stages = 0
    def stage(kind: String, layer: String = "operators")(body: => Boolean): Unit =
      if (Recorder.now() < end) {
        val s0 = Recorder.now()
        ok &= rec.timedOp(kind, layer, "main")(body)
        if (layer == "operators") { busy += Recorder.now() - s0; stages += 1 }
      }

    stage("dedup") {
      Dedup.dedupCorpus(spark.read.parquet(corpusPath), "doc_id", "text").write.parquet(surv)
      true
    }
    stage("check.dedup", "bench")(checkDedup(spark.read.parquet(surv), base, rec))
    lazy val survivors = spark.read.parquet(surv)
    stage("quality") {
      val r = TextAnalysis.qualityScore(survivors, "doc_id", "text").agg(count(lit(1)), sum(col("n_tok"))).first()
      val good = r.getLong(0) == base && r.getLong(1) == baseTokens
      if (!good) rec.error(s"quality: ${(r.getLong(0), r.getLong(1))} != ${(base, baseTokens)}")
      good
    }
    stage("ivf_build") {
      IvfIndex.build(survivors.select("doc_id", "v"), centroids, "doc_id", "v", indexRoot)
      true
    }
    (0 until batches).foreach { b =>
      val queries = (0 until BatchQueries).map { i =>
        val v = st.vectors(rnd.nextInt(base))
        (-1L - b * BatchQueries - i, v.map(x => x + 0.05 * rnd.nextGaussian()).toSeq)
      }.toDF("query_id", "qv")
      var got: Array[Row] = Array.empty
      stage("topk") {
        got = IvfIndex.topK(spark, indexRoot, queries, K, NProbe).collect()
        val good = got.length == BatchQueries * K
        if (!good) rec.error(s"topk returned ${got.length} rows, want ${BatchQueries * K}")
        good
      }
      if (b == 0) stage("check.recall", "bench") {
        val exact = Similarity.cosineTopK(survivors.select("doc_id", "v"), queries, "doc_id", "v", K)
          .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = got.count(r => exact.contains((r.getLong(0), r.getLong(2)))).toDouble / exact.size
        rec.sample("ivf_recall_at_k", recall)
        if (recall < RecallFloor) rec.error(s"IVF recall@$K $recall < $RecallFloor")
        recall >= RecallFloor
      }
    }
    stage("pack") {
      val r = Curation.packSequences(survivors, "doc_id", "ids", SeqLen, numParts = 2 * env.cores)
        .agg(count(lit(1)), sum(col("n_tok"))).first()
      val want = ((baseTokens + SeqLen - 1) / SeqLen, baseTokens)
      val good = (r.getLong(0), r.getLong(1)) == want
      if (!good) rec.error(s"pack: ${(r.getLong(0), r.getLong(1))} != $want")
      good
    }
    if (stages == 4 + batches)
      rec.op("pipeline", t0, Recorder.now(), ok, "docs" -> (base * docs / BaseDocs).toDouble, "busy" -> busy)
  }

  /** Survivors must be exactly the base documents: every planted copy gone. */
  private def checkDedup(survivors: DataFrame, base: Int, rec: Recorder): Boolean = {
    val r = survivors.agg(count(lit(1)), sum(when(col("doc_id") < base, 1L).otherwise(0L)),
      sum(when(col("doc_id") >= BaseDocs && col("doc_id") < BaseDocs + ExactCopies, 1L).otherwise(0L)),
      sum(when(col("doc_id") >= BaseDocs + ExactCopies, 1L).otherwise(0L))).first()
    val (kept, exactLeft, nearLeft) = (r.getLong(1), r.getLong(2), r.getLong(3))
    val nearRecall = (NearCopies - nearLeft).toDouble / NearCopies
    rec.sample("near_dup_recall", nearRecall)
    val good = r.getLong(0) == base && kept == base && exactLeft == 0 && nearRecall >= NearRecallFloor
    if (!good) rec.error(s"dedup kept ${r.getLong(0)}: base=$kept exact copies=$exactLeft near copies=$nearLeft")
    good
  }
}
