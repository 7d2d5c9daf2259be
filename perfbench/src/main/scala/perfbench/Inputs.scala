package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row, stream), so the inputs do not depend on partitioning or
  * thread timing; the program under test only ever sees the parquet files
  * these write.
  */
object Inputs {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1). */
  def u01(seed: Long, row: Long, stream: Int): Double =
    (mix(mix(seed * 0x9e3779b97f4a7c15L + row) + stream) >>> 11) / 9007199254740992.0 // 2^53

  /** Standard normal (Box-Muller over two uniform streams). */
  def gauss(seed: Long, row: Long, stream: Int): Double = {
    val u = 1.0 - u01(seed, row, 2 * stream)
    val v = u01(seed, row, 2 * stream + 1)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  /** A Gaussian mixture: component centres uniform in [0, 100)^dim, each row
    * drawn from a uniformly chosen component with standard deviation
    * `sigma` per coordinate. Rows are in random component order, so the
    * first K rows by id are a random sample (first-K init is not biased).
    */
  final case class Mixture(n: Long, dim: Int, components: Int, sigma: Double) {
    def describe: Seq[(String, String)] = Seq(
      "rows" -> Json.num(n), "dim" -> Json.num(dim.toLong),
      "components" -> Json.num(components.toLong), "sigma" -> Json.num(sigma))

    // centre streams live on negative rows, which no point uses
    def centre(seed: Long, c: Int, j: Int): Double =
      100.0 * u01(seed, -1L - c, j)

    def row(seed: Long, id: Long): Array[Double] = {
      val c = (u01(seed, id, 0) * components).toInt
      Array.tabulate(dim)(j => centre(seed, c, j) + sigma * gauss(seed, id, j + 1))
    }
  }

  /** (pid, x, y) points of a 2-D mixture, written to `path`. */
  def writePoints2(spark: SparkSession, seed: Long, m: Mixture, path: String): Unit = {
    require(m.dim == 2, "writePoints2 needs a 2-D mixture")
    import spark.implicits._
    spark.range(0, m.n, 1, Workers)
      .map { id => val p = m.row(seed, id); (id: Long, p(0), p(1)) }
      .toDF("pid", "x", "y")
      .write.mode("overwrite").parquet(path)
  }

  /** (id, vec) vectors of an n-D mixture starting at id `firstId`. */
  def writeVectors(
      spark: SparkSession, seed: Long, m: Mixture, firstId: Long, path: String): Unit = {
    import spark.implicits._
    spark.range(firstId, firstId + m.n, 1, Workers)
      .map(id => (id: Long, m.row(seed, id)))
      .toDF("id", "vec")
      .write.mode("overwrite").parquet(path)
  }

  /** The words of the generated documents: the 30 words of the sf0.1
    * `documents` fixture (its technical vocabulary plus the stopwords the
    * quality score counts). The fixture's 31st word is the near-duplicate
    * marker "dup".
    */
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Document corpus shape. A `nearDupShare` of the rows copy another
    * document's words (any other row, earlier or later) and append the
    * marker word "dup"; an `exactDupShare` copy them verbatim; the rest
    * draw `minWords` to `maxWords` words uniformly from [[Vocabulary]].
    * Sources are assigned round-robin, languages by `langShares`.
    */
  final case class Corpus(
      docs: Int, sources: Int, minWords: Int, maxWords: Int,
      nearDupShare: Double, exactDupShare: Double, langShares: Seq[(String, Double)]) {
    def describe: Seq[(String, String)] = Seq(
      "docs" -> Json.num(docs.toLong), "sources" -> Json.num(sources.toLong),
      "min_words" -> Json.num(minWords.toLong), "max_words" -> Json.num(maxWords.toLong),
      "near_dup_share" -> Json.num(nearDupShare),
      "exact_dup_share" -> Json.num(exactDupShare),
      "lang_shares" -> Json.obj(langShares.map { case (l, s) => l -> Json.num(s) }))

    private def fresh(seed: Long, id: Long): String = {
      val len = minWords + (u01(seed, id, 1) * (maxWords - minWords + 1)).toInt
      (0 until len).map { i =>
        Vocabulary((u01(seed, id, 10 + i) * Vocabulary.size).toInt)
      }.mkString(" ")
    }

    def text(seed: Long, id: Long): String = {
      val kind = u01(seed, id, 2)
      // any row but this one; a copied row may itself be a duplicate, in
      // which case the copy matches no stored text (as in the fixture)
      def other = {
        val o = (u01(seed, id, 3) * (docs - 1)).toLong
        if (o >= id) o + 1 else o
      }
      if (docs > 1 && kind < nearDupShare) fresh(seed, other) + " dup"
      else if (docs > 1 && kind < nearDupShare + exactDupShare) fresh(seed, other)
      else fresh(seed, id)
    }

    def lang(seed: Long, id: Long): String = {
      val u = u01(seed, id, 4) * langShares.map(_._2).sum
      val cum = langShares.scanLeft(0.0)(_ + _._2).tail
      val i = cum.indexWhere(u < _)
      langShares(if (i < 0) langShares.size - 1 else i)._1
    }
  }

  /** (doc_id, text, lang, source, n_chars) documents, the schema of the
    * engine's `documents` table.
    */
  def writeDocuments(spark: SparkSession, seed: Long, c: Corpus, path: String): Unit = {
    import spark.implicits._
    spark.range(0, c.docs.toLong, 1, Workers)
      .map { id =>
        val t = c.text(seed, id)
        (id: Long, t, c.lang(seed, id), s"src${id % c.sources}", t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(path)
  }

  /** Order-independent content hash of a table: row count plus the XOR of
    * every row's 64-bit hash, read back from the files the program reads.
    */
  def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head()
    f"${r.getLong(0)}%d-${r.getLong(1)}%016x"
  }

  /** Parallelism the generators write with (the session's core count). */
  val Workers = 4
}
