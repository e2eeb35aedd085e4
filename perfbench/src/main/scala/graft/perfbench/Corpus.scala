package graft.perfbench

import graft.model.{Doc, Span}
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Story mix of a Synth corpus: how many story groups a doc may join. */
sealed trait Mix {
  def name: String
  def nStories(seed: Long, idx: Long, nDocs: Long): Int
}

object Mix {
  private def base(nDocs: Long): Int = math.max(8, (nDocs / 50).toInt)

  /** Synth's own mix: uniform over nDocs/50 groups (~11 docs a story). */
  case object Uniform extends Mix {
    val name = "uniform"
    def nStories(seed: Long, idx: Long, nDocs: Long): Int = base(nDocs)
  }

  /** Heavy tail: each doc draws its group count as 2^u with
    * u = ⌊(L+1)·r²⌋, r uniform in [0, 1), 2^L ≤ nDocs/50 — small group
    * counts are the likeliest, so a few hot stories (the low group ids
    * every draw shares) hold a large share of the kept docs.
    */
  case object HotTail extends Mix {
    val name = "hottail"
    def nStories(seed: Long, idx: Long, nDocs: Long): Int = {
      val levels = 31 - Integer.numberOfLeadingZeros(base(nDocs))
      val r = (Synth.fnv64(s"$seed:mix:$idx") >>> 11) / (1L << 53).toDouble
      1 << math.min(levels, ((levels + 1) * r * r).toInt)
    }
  }
}

/** Ground truth of one doc, slimmed to what the checks read. `reason` is
  * why the generator meant the doc to be dropped ("" when kept).
  */
final case class TruthRow(doc_id: String, kept: Boolean, lang: String,
                          title_norm: String, spans: Array[Span], reason: String)

/** A materialized corpus: parquet the program reads, plus its identity. */
final case class Corpus(dir: String, seed: Long, nDocs: Long, mix: Mix) {
  def truths(spark: SparkSession): Dataset[TruthRow] = Corpus.truths(spark, seed, nDocs, mix)
}

object Corpus {

  private def partitions(nDocs: Long): Int = math.max(4, (nDocs / 12500L).toInt)

  def docs(spark: SparkSession, seed: Long, nDocs: Long, mix: Mix): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, partitions(nDocs)).as[Long].mapPartitions(_.map { i =>
      val t = Synth.gen(seed, i, mix.nStories(seed, i, nDocs))
      Doc(t.doc_id, t.input)
    })
  }

  /** The generator's drop class, from its first draw (Synth.gen: roll ≥ 95
    * boilerplate-only, 75–89 a gated language, 90–94 no <h1>).
    */
  def dropReason(seed: Long, docId: String): String = {
    val roll = new Synth.Rng(Synth.fnv64(s"$seed:$docId")).nextInt(100)
    if (roll >= 95) "empty" else if (roll >= 90) "no_title" else if (roll >= 75) "lang" else ""
  }

  def truths(spark: SparkSession, seed: Long, nDocs: Long, mix: Mix): Dataset[TruthRow] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, partitions(nDocs)).as[Long].mapPartitions(_.map { i =>
      val t = Synth.gen(seed, i, mix.nStories(seed, i, nDocs))
      TruthRow(t.doc_id, t.kept, t.lang, t.title_norm, t.expected,
        if (t.kept) "" else dropReason(seed, t.doc_id))
    })
  }

  /** Order-independent content fingerprint: (rows, xor of row hashes). */
  def fingerprint(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Identity of the generator code: a hash over a fixed sample of its
    * output, so a changed generator never reuses an old materialization.
    */
  lazy val generatorId: String = {
    var h = 0L
    (0L until 64L).foreach { i =>
      val t = Synth.gen(1L, i, 8)
      (t.input.map(s => s.kind + s.text + s.media_ref) ++
        t.expected.map(s => s.kind + s.text + s.media_ref) :+ t.title_norm)
        .foreach(s => h = h * 31 + Synth.fnv64(s))
    }
    f"synth$h%016x"
  }

  /** Materialize (or reuse) the corpus for (generator, seed, nDocs, mix)
    * under `root`. The row count and content fingerprint recorded when it
    * was written are checked before every use; a mismatch rewrites it.
    */
  def materialize(spark: SparkSession, root: String, seed: Long, nDocs: Long, mix: Mix): Corpus = {
    val dir = s"$root/${generatorId}_${mix.name}_s${seed}_n$nDocs"
    val meta = Paths.get(dir, "_rows_fingerprint") // '_' files are not parquet input
    def onDisk(): String = {
      val (n, fp) = fingerprint(spark.read.parquet(dir), "doc_id", "spans")
      s"$n:$fp"
    }
    val reusable = Files.exists(meta) && {
      val now = onDisk()
      now.startsWith(s"$nDocs:") && Files.readString(meta) == now
    }
    if (!reusable) {
      docs(spark, seed, nDocs, mix).write.mode("overwrite").parquet(dir)
      val fp = onDisk()
      require(fp.startsWith(s"$nDocs:"), s"materialized corpus $dir holds $fp rows:fingerprint")
      Files.writeString(meta, fp)
    }
    Files.setLastModifiedTime(Paths.get(dir), java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    Corpus(dir, seed, nDocs, mix)
  }
}
