package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** txt_repetition's r19 per-row run-length form must equal the
  * relational (explode + gram-grain aggregate) form it replaced, on a
  * fixture planted with the shapes that distinguish them: repeated
  * words, repeated bigrams, single-token docs (no bigram grain), docs
  * below the trigram floor, coverage ties, and null text. */
class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(docs: Seq[String]): java.nio.file.Path = {
    val d = tmpDir("graft-rep")
    val rows = docs.zipWithIndex.map { case (text, i) =>
      (i.toLong, text, "en", s"src${i % 3}",
        Option(text).fold(0L)(_.length.toLong))
    }
    writeFixture(d, "documents",
      rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    d
  }

  /** The pre-r19 relational gram computation, verbatim: one explode to
    * (doc, ng, gram) grain, two shrinking aggregations, pivot. */
  private def relationalGrams(base: DataFrame): DataFrame = {
    val unigrams = base.select(col("doc_id"), col("n_chars_m"),
      lit(1).as("ng"), explode(col("toks")).as("gram"))
    val bigrams = base
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("n_chars_m"), lit(2).as("ng"),
        explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(2)))))
          .as("gram"))
    unigrams.union(bigrams)
      .groupBy(col("doc_id"), col("n_chars_m"), col("ng"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n_chars_m"), col("ng"))
      .agg(
        sum(col("c")).as("total"),
        count(lit(1)).as("uniq"),
        max(col("c") * length(col("gram")).cast(LongType)).as("cover"))
      .groupBy(col("doc_id"), col("n_chars_m"))
      .agg(
        max(when(col("ng") === 1, col("total"))).as("t1"),
        max(when(col("ng") === 1, col("uniq"))).as("u1"),
        max(when(col("ng") === 1, col("cover"))).as("cov1"),
        max(when(col("ng") === 2, col("total"))).as("t2"),
        max(when(col("ng") === 2, col("uniq"))).as("u2"),
        max(when(col("ng") === 2, col("cover"))).as("cov2"))
  }

  private val fixture = Seq(
    // heavy word repetition + a dominant long word
    "spark spark spark antidisestablishmentarianism ok",
    // repeated bigram "a b", distinct words
    "a b a b a b c",
    // single token: no bigram grain (relational yields NULL t2/u2/cov2)
    "solo",
    // two tokens: bigrams exist, below the trigram floor
    "pair pair",
    // coverage tie: two words, same count, same length
    "aa bb aa bb",
    // longer mixed doc
    (0 until 50).map(i => s"w${i % 7}").mkString(" "),
    // null text: no tokens, so the relational form (explode) has no row
    null)

  test("per-row run-length metrics equal the relational gram aggregate") {
    val dir = corpus(fixture)
    val out = TextQueries.repetition(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r).toMap

    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        split(col("text"), " ").as("toks"))
    val ref = relationalGrams(base).collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(out.keySet == ref.keySet)
    for ((id, r) <- ref) {
      val o = out(id)
      val t1 = r.getLong(r.fieldIndex("t1"))
      val u1 = r.getLong(r.fieldIndex("u1"))
      val cov1 = r.getLong(r.fieldIndex("cov1"))
      val nChars = r.getLong(r.fieldIndex("n_chars_m")).toDouble
      assert(o.getLong(o.fieldIndex("n_tokens")) == t1, s"doc $id t1")
      assert(o.getDouble(o.fieldIndex("dup_word_frac"))
        == 1.0 - u1.toDouble / t1.toDouble, s"doc $id dup_word_frac")
      assert(o.getDouble(o.fieldIndex("top_word_char_frac"))
        == cov1.toDouble / nChars, s"doc $id top_word_char_frac")
      val t2 = Option(r.get(r.fieldIndex("t2"))).map(_.asInstanceOf[Long])
      val u2 = Option(r.get(r.fieldIndex("u2"))).map(_.asInstanceOf[Long])
      val cov2 = Option(r.get(r.fieldIndex("cov2"))).map(_.asInstanceOf[Long])
      val expDupBg = t2 match {
        case Some(t) if t > 0 => 1.0 - u2.get.toDouble / t.toDouble
        case _ => 0.0
      }
      assert(o.getDouble(o.fieldIndex("dup_bigram_frac")) == expDupBg,
        s"doc $id dup_bigram_frac")
      assert(o.getDouble(o.fieldIndex("top_bigram_char_frac"))
        == cov2.getOrElse(0L).toDouble / nChars,
        s"doc $id top_bigram_char_frac")
    }
  }
}
