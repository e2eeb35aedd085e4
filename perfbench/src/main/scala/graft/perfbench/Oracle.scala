package graft.perfbench

import graft.gloss.Classify
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Expected outputs built from the generator's ground truth, never from the
  * extractor: the CLI stdout frames of `top` and `languages`, and the
  * content fingerprint of extracted rows.
  */
object Oracle {

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** (doc_id, lang, title_norm, spans) of the docs the generator keeps. */
  def keptTruth(spark: SparkSession, c: Corpus): DataFrame =
    c.truths(spark).toDF().filter(col("kept"))
      .select(col("doc_id"), col("lang"), col("title_norm"), col("spans"))

  /** Thread of the truth title groups: (title, size, category, articles). */
  final case class Thread(title: String, size: Int, category: String, articles: Seq[String])

  /** Title groups of ≥ 2 kept docs. Categories come from the typed spec
    * twin `Classify.runWithIdfSlimTyped` over the truth titles; a thread's
    * category is the min over its members, its articles the 10 smallest ids.
    */
  def truthThreads(kept: DataFrame): Seq[Thread] = {
    val spark = kept.sparkSession
    import spark.implicits._
    val slim = kept.select("doc_id", "lang", "title_norm")
    val bc = Classify.dictsBroadcast(spark)
    val bcIdf = spark.sparkContext.broadcast(
      Classify.idfFromTable(Classify.dfTableSlim(slim, bc.value)))
    val rows = Classify.runWithIdfSlimTyped(slim, bc, bcIdf)
      .map(d => (d.doc_id, d.title_norm, d.category)).collect()
    bcIdf.destroy()
    rows.groupBy(_._2).collect {
      case (t, ms) if ms.length >= 2 =>
        Thread(t, ms.length, ms.map(_._3).min, ms.map(_._1).sorted.take(10).toSeq)
    }.toSeq
  }

  /** Share of the docs in `docs` that fall in the 10 largest title groups. */
  def hotShare(docs: DataFrame): Double = {
    val sizes = docs.groupBy("title_norm").count().select("count").collect().map(_.getLong(0))
    sizes.sorted.reverse.take(10).sum.toDouble / math.max(1L, sizes.sum)
  }

  /** The exact stdout of `top`: per-category buckets plus "any", ten
    * threads each by (size desc, title), "any" first.
    */
  def topFrames(threads: Seq[Thread]): String = {
    val buckets = threads.flatMap(t => Seq((if (t.category.isEmpty) "other" else t.category) -> t, "any" -> t))
    val frames = buckets.groupBy(_._1).toSeq.sortBy {
      case ("any", _) => ""
      case (cat, _)   => cat
    }.map { case (cat, ts) =>
      val top = ts.map(_._2).sortBy(t => (-t.size, t.title)).take(10).map { t =>
        s"""{"title": ${jsonStr(t.title)}, "articles": [${t.articles.map(jsonStr).mkString(", ")}]}"""
      }
      s"""{"category": ${jsonStr(cat)}, "threads": [${top.mkString(", ")}]}"""
    }
    frames.mkString("[\n", ",\n", "\n]")
  }

  /** The exact stdout of `languages`: sorted kept doc ids per language. */
  def languagesFrames(kept: DataFrame): String = {
    import kept.sparkSession.implicits._
    val byLang = kept.select("lang", "doc_id").as[(String, String)].collect()
      .groupBy(_._1).map { case (l, ids) => l -> ids.map(_._2).sorted }
    Seq("en", "ru").map { l =>
      s"""{"lang_code": ${jsonStr(l)}, "articles": [${byLang.getOrElse(l, Array.empty[String]).map(jsonStr).mkString(", ")}]}"""
    }.mkString("[\n", ",\n", "\n]")
  }

  /** Docs whose row differs between `got` and `want` (full outer join on
    * doc_id over the given columns) — the detailed count behind a
    * fingerprint mismatch.
    */
  def mismatchedDocs(got: DataFrame, want: DataFrame, cols: Seq[String]): Long = {
    def keyed(df: DataFrame, tag: String) =
      df.select(col("doc_id"), xxhash64(cols.map(col): _*).as(tag))
    keyed(got, "g").join(keyed(want, "w"), Seq("doc_id"), "full_outer")
      .filter(col("g").isNull || col("w").isNull || col("g") =!= col("w"))
      .count()
  }

  /** Failed docs of `got` against the truth: 0 when its fingerprint is
    * `wantFp`, else the detailed count (at least 1).
    */
  def checkRows(got: DataFrame, wantFp: (Long, Long), want: => DataFrame, cols: Seq[String]): Long =
    if (Corpus.fingerprint(got, cols: _*) == wantFp) 0L
    else math.max(1L, mismatchedDocs(got, want, cols))
}
