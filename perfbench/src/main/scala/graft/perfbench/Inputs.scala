package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic `documents` and `embeddings`, built from Spark
  * expressions only: row `id` is a pure function of (`id`, seed), so any
  * slice is reproducible and the same seed gives the same rows.
  *
  * Documents are `documents`-shaped (doc_id, text, lang, source,
  * n_chars). Each document draws its tokens from a language's stopwords
  * plus a shared content vocabulary; a `twinPct` share are near-copies
  * of an earlier document (`mutPct`% of positions rewritten), so
  * near-dedup, novelty and semantic dedup all have something to drop.
  */
object Inputs {
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "de", "fr", "es")
  private val Stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "von", "mit", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un"),
    "es" -> Seq("el", "la", "de", "y", "en", "los", "que", "un"))
  private val Vocab = 2000

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((cs :+ lit(seed) :+ lit(salt)): _*)

  private def arr(ws: Seq[String]): Column = array(ws.map(lit): _*)

  /** `n` documents with ids `firstId until firstId + n`. A twin copies
    * the template of one of the `twinWindow` ids before it.
    */
  def documents(spark: SparkSession, seed: Long, firstId: Long, n: Long,
                twinPct: Int, twinWindow: Long, mutPct: Int = 5): DataFrame = {
    val id = col("id")
    val twin = id >= twinWindow && pmod(h(seed, 1, id), lit(100)) < twinPct
    val key = when(twin, id - lit(1) - pmod(h(seed, 2, id), lit(twinWindow)))
      .otherwise(id)
    val langIx = pmod(h(seed, 3, col("key")), lit(Langs.size)) + 1
    val stops = Langs.distinct.foldLeft(lit(null).cast("array<string>")) { (acc, l) =>
      when(col("lang") === l, arr(Stop(l))).otherwise(acc)
    }
    spark.range(firstId, firstId + n)
      .withColumn("twin", twin)
      .withColumn("key", key)
      .withColumn("lang", element_at(arr(Langs), langIx.cast("int")))
      .withColumn("stops", stops)
      .withColumn("stop_pct", pmod(h(seed, 4, col("key")), lit(30)) + 5)
      .withColumn("len", (pmod(h(seed, 5, col("key")), lit(60)) + 20).cast("int"))
      .withColumn("toks", expr(
        s"""transform(sequence(0, len - 1), p ->
           |  CASE WHEN twin AND pmod(xxhash64(id, p, ${seed}L, 6), 100) < $mutPct
           |    THEN concat('w', pmod(xxhash64(id, p, ${seed}L, 7), $Vocab))
           |  WHEN pmod(xxhash64(key, p, ${seed}L, 8), 100) < stop_pct
           |    THEN element_at(stops, CAST(pmod(xxhash64(key, p, ${seed}L, 9), 8) + 1 AS INT))
           |  ELSE concat('w', pmod(xxhash64(key, p, ${seed}L, 10), $Vocab)) END)""".stripMargin))
      .select(
        id.as("doc_id"),
        array_join(col("toks"), " ").as("text"),
        col("lang"),
        concat(lit("src"), pmod(h(seed, 11, id), lit(12))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `n` 32-dim vectors around 8 seeded centroids; a twin repeats an
    * earlier vector (chosen as in [[documents]]) with ±0.001 jitter.
    */
  def embeddings(spark: SparkSession, seed: Long, firstId: Long, n: Long,
                 twinPct: Int, twinWindow: Long): DataFrame = {
    val id = col("id")
    val twin = id >= twinWindow && pmod(h(seed, 21, id), lit(100)) < twinPct
    spark.range(firstId, firstId + n)
      .withColumn("twin", twin)
      .withColumn("key",
        when(twin, id - lit(1) - pmod(h(seed, 22, id), lit(twinWindow))).otherwise(id))
      .withColumn("label", pmod(h(seed, 23, col("key")), lit(8)).cast("int"))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, 31), d -> CAST(
           |  pmod(xxhash64(label, d, ${seed}L, 24), 1000) / 1000.0
           |  + (pmod(xxhash64(key, d, ${seed}L, 25), 1000) / 1000.0 - 0.5) * 0.4
           |  + CASE WHEN twin THEN (pmod(xxhash64(id, d, ${seed}L, 26), 1000) / 1000.0 - 0.5) * 0.002
           |    ELSE 0.0 END AS FLOAT))""".stripMargin))
      .select(id.as("vec_id"), col("embedding"), col("label"))
  }
}
