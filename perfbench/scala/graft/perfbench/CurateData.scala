package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus.Rng

/** Seeded `documents` and `embeddings` tables with the size and shape of
  * the repo's sf0.01 test tables (the tables its DuckDB correctness tier
  * reads), so the curate layer reads nothing outside its checkout. The
  * shape, as measured with DuckDB on the sf0.001, sf0.01 and sf0.1 tables
  * (they differ only in row count):
  *
  *  - documents: 500 rows at sf0.01 (5,000 at sf0.1). Text is 10 to 99
  *    words drawn from one 30-word vocabulary (mean 54 words, 298 chars).
  *    Exactly one row in twenty is another row's text plus " dup" (25 of
  *    500, 250 of 5,000). `lang` is en for about 41% of rows and zh, es,
  *    fr or de for about 15% each; `source` is src0 to src19 by row
  *    number; `n_chars` is the text length.
  *  - embeddings: 500 rows at sf0.01 (2,000 at sf0.1), 64-dim and unit
  *    length, components with standard deviation 0.125 (a normalised
  *    gaussian), `label` 0 to 9 uniform.
  *
  * `SelfTest` checks the generated tables against these figures.
  */
object CurateData {
  /** The rows of the sf0.01 tables. */
  val SfDocs = 500
  val SfVecs = 500

  val Words: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr", "es", "es", "es")

  /** (doc_id, text, lang, source, n_chars) rows. */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val r = new Rng(seed ^ 0x646f6373L)
    val base = Array.fill(n)(Seq.fill(10 + r.nextInt(90))(r.pick(Words)).mkString(" "))
    // n/20 rows, at seeded places, repeat another row's text plus " dup"
    val order = (0 until n).map(i => (r.nextLong(), i)).sorted.map(_._2)
    val dups = order.take(n / 20)
    val originals = order.drop(n / 20)
    val text = base.clone()
    dups.foreach(i => text(i) = base(originals(r.nextInt(originals.length))) + " dup")
    (0 until n).map { i =>
      (i.toLong, text(i), r.pick(Langs), s"src${i % 20}", text(i).length.toLong)
    }
  }

  /** (vec_id, embedding, label) rows. */
  def embeddings(seed: Long, n: Int, dim: Int = 64): Seq[(Long, Array[Float], Int)] = {
    val r = new java.util.Random(seed ^ 0x656d62L)
    (0 until n).map { i =>
      val v = Array.fill(dim)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }

  /** Write both tables under `dir` as the queries expect them. */
  def write(spark: SparkSession, seed: Long, dir: String, nDocs: Int, nVecs: Int): Unit = {
    import spark.implicits._
    documents(seed, nDocs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(seed, nVecs).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
