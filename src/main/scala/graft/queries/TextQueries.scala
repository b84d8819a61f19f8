package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MisraGriesAgg
import graft.functions.TextFunctions._
import graft.util.Tables

/** Text-analysis operators over the `documents` table — the
  * LLM-training-data extension surface (BASELINE.json north star): token
  * counting, quality scoring, n-gram language ID, and document
  * fingerprinting.
  *
  * Scale notes (100 TB): every query is a single scan + narrow
  * projections (all per-row expression work, fully whole-stage-codegen)
  * followed by at most one shuffle (the group-by / top-k). No UDFs —
  * everything is built-in `functions._` so Catalyst prunes `documents`
  * to the referenced columns at the parquet scan.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Small stopword list used for the quality ratio. */
  private[queries] val Stopwords = Seq("the", "a", "data")
  private val StopwordsSqlList = Stopwords.map(s => s"'$s'").mkString(", ")

  /** Shared quality score over token stats — used by txt_stats and the
    * corpus-clean pipeline (identical expression on both engines). */
  private[queries] def qualityScore(nTok: Column, nUniq: Column,
                                    nStop: Column): Column = {
    val ttr = nUniq.cast(DoubleType) / nTok.cast(DoubleType)
    val stopRatio = nStop.cast(DoubleType) / nTok.cast(DoubleType)
    lit(0.4) * ttr + lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.3) * least(nTok.cast(DoubleType) / lit(64.0), lit(1.0))
  }

  /** SQL twin of [[qualityScore]]. */
  private[queries] def qualityScoreSql(nTok: String, nUniq: String,
                                       nStop: String): String =
    s"""CAST(0.4 AS DOUBLE) * (CAST($nUniq AS DOUBLE) / CAST($nTok AS DOUBLE))
       |         + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST($nStop AS DOUBLE) / CAST($nTok AS DOUBLE))
       |         + CAST(0.3 AS DOUBLE) * least(CAST($nTok AS DOUBLE) / CAST(64.0 AS DOUBLE), CAST(1.0 AS DOUBLE))""".stripMargin

  /** Stopword count of a token-array attribute. */
  private[queries] def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isInCollection(Stopwords))).cast(LongType)

  private[queries] def stopwordCountSql(toksExpr: String): String =
    s"CAST(len(list_filter($toksExpr, x -> x IN ($StopwordsSqlList))) AS BIGINT)"

  /** Language marker words (disjoint sets; the synthetic corpus shares
    * one vocabulary across langs, so this scores the *mechanism*, which
    * is what the oracle checks). */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("data", "key", "group", "hash"),
    "en" -> Seq("the", "a", "fast", "query"),
    "es" -> Seq("row", "line", "slow", "sort"),
    "fr" -> Seq("join", "merge", "filter", "scan"),
    "zh" -> Seq("customer", "vector", "window", "batch"))

  // ---------------------------------------------------------------------
  // txt_stats: token counting + quality scoring
  // ---------------------------------------------------------------------

  def stats(spark: SparkSession, dir: String): DataFrame = {
    // `toks` must be an attribute, not an inline split(text): the six
    // downstream references would each re-tokenize the text after
    // CollapseProject inlines them. The repartition is the projection
    // barrier (and spreads the single-file scan across cores).
    val toks = col("toks")
    val nTok = size(toks).cast(LongType)
    val nUniq = size(array_distinct(toks)).cast(LongType)
    val nStop = stopwordCount(toks)
    val ttr = nUniq.cast(DoubleType) / nTok.cast(DoubleType)
    val stopRatio = nStop.cast(DoubleType) / nTok.cast(DoubleType)
    docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        length(col("text")).cast(LongType).as("n_chars_m"))
      .repartition(col("doc_id"))
      .select(
        col("doc_id"),
        col("n_chars_m"),
        nTok.as("n_tokens"),
        nUniq.as("n_uniq_tokens"),
        ttr.as("type_token_ratio"),
        nStop.as("n_stopwords"),
        stopRatio.as("stopword_ratio"),
        ((col("n_chars_m") - (nTok - lit(1L))).cast(DoubleType) / nTok.cast(DoubleType))
          .as("avg_token_len"),
        qualityScore(nTok, nUniq, nStop).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  val statsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(length(text) AS BIGINT) AS n_chars_m,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq_tokens,
       |         ${stopwordCountSql("string_split(text,' ')")} AS n_stopwords
       |  FROM documents)
       |SELECT doc_id, n_chars_m, n_tokens, n_uniq_tokens,
       |       CAST(n_uniq_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
       |       n_stopwords,
       |       CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
       |       CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       |       ${qualityScoreSql("n_tokens", "n_uniq_tokens", "n_stopwords")} AS quality_score
       |FROM t
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_langid: marker-word n-gram heuristic, confusion-matrix rollup
  // ---------------------------------------------------------------------

  def langId(spark: SparkSession, dir: String): DataFrame = {
    // token attribute + barrier: five marker scores would otherwise
    // each re-split the text (see stats)
    val toks = col("toks")
    def score(markers: Seq[String]): Column =
      size(filter(toks, t => t.isInCollection(markers)))
    val scored = docs(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .repartition(col("doc_id"))
      .select(
        col("lang") +: LangMarkers.map { case (l, m) => score(m).as(s"s_$l") }: _*)
    // argmax with ties broken by language-code order (de<en<es<fr<zh)
    val langs = LangMarkers.map(_._1)
    val predicted = langs.init.foldRight(lit(langs.last)) { (l, rest) =>
      val beatsAll = langs.filter(_ > l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduceOption(_ && _).getOrElse(lit(true))
      val beatsEarlier = langs.filter(_ < l)
        .map(o => col(s"s_$l") > col(s"s_$o"))
        .reduceOption(_ && _).getOrElse(lit(true))
      when(beatsAll && beatsEarlier, lit(l)).otherwise(rest)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))
  }

  val langIdSql: String = {
    val langs = LangMarkers.map(_._1)
    val scores = LangMarkers.map { case (l, m) =>
      s"len(list_filter(string_split(text,' '), x -> x IN (${m.map(w => s"'$w'").mkString(", ")}))) AS s_$l"
    }.mkString(",\n         ")
    val cases = langs.init.map { l =>
      val conds =
        langs.filter(_ > l).map(o => s"s_$l >= s_$o") ++
          langs.filter(_ < l).map(o => s"s_$l > s_$o")
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }.mkString("\n              ")
    s"""WITH scored AS (
       |  SELECT lang,
       |         $scores
       |  FROM documents)
       |SELECT lang,
       |       CASE $cases
       |            ELSE '${langs.last}' END AS predicted_lang,
       |       count(*) AS n_docs
       |FROM scored
       |GROUP BY 1, 2
       |ORDER BY lang, predicted_lang""".stripMargin
  }

  // ---------------------------------------------------------------------
  // txt_token_hist: corpus token frequencies, top 50
  // ---------------------------------------------------------------------

  def tokenHist(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  val tokenHistSql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // txt_fingerprint: whole-doc + min-shingle (winnowing-style) hashes
  // ---------------------------------------------------------------------

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), h60(col("text")).as("fp60"),
        tokens(col("text")).as("toks"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("fp60"),
        shingleHashesOfToks(col("toks"), 3).as("shl"))
      .select(
        col("doc_id"),
        col("fp60"),
        array_min(col("shl")).as("min_shingle"),
        size(col("shl")).cast(LongType).as("n_shingles"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |       ${h60Sql("text")} AS fp60,
       |       list_min(${shingleHashesSql(3)}) AS min_shingle,
       |       CAST(len(${shingleHashesSql(3)}) AS BIGINT) AS n_shingles
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_bpe_tokens: BPE-ish subword tokenization via greedy regex chunks
  // ---------------------------------------------------------------------

  /** Subword chunking: greedy up-to-4-char alnum runs ("customer" ->
    * cust, omer) — the cheap regex approximation of a BPE tokenizer.
    * The REAL learned merge walk is [[bpeMerges]]/[[bpeEncode]]; this
    * stays as the zero-training single-pass variant (no vocab scan).
    * Greedy {1,4} quantifiers behave identically in Java regex (Spark)
    * and RE2 (DuckDB): longest match at each position, resume after. */
  private val SubTokenPattern = "[a-z0-9]{1,4}"

  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val subs = col("subs")
    docs(spark, dir)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(SubTokenPattern), lit(0)).as("subs"),
        size(tokens(col("text"))).cast(LongType).as("n_words"))
      .repartition(col("doc_id")) // barrier: 3 refs to `subs` below
      .select(
        col("doc_id"),
        col("n_words"),
        size(subs).cast(LongType).as("n_subtokens"),
        size(array_distinct(subs)).cast(LongType).as("n_uniq_subtokens"),
        (size(subs).cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("subtokens_per_word"))
      .orderBy(col("doc_id"))
  }

  val bpeTokensSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         regexp_extract_all(text, '$SubTokenPattern') AS subs,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_words
       |  FROM documents)
       |SELECT doc_id, n_words,
       |       CAST(len(subs) AS BIGINT) AS n_subtokens,
       |       CAST(len(list_distinct(subs)) AS BIGINT) AS n_uniq_subtokens,
       |       CAST(len(subs) AS DOUBLE) / CAST(n_words AS DOUBLE) AS subtokens_per_word
       |FROM t
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_bpe_merges / txt_bpe_encode: the real learned BPE merge walk
  // ---------------------------------------------------------------------

  /** Fixed merge-round count — literal in both engines so the DuckDB
    * oracle can unroll the walk as CTEs. */
  private val BpeRounds = 4

  /** Symbol-sequence string encoding shared by both engines: every
    * symbol wrapped in its own spaces (" c  u  s  t "). The wrapping
    * makes a literal `replace` of " a  b " -> " ab " exactly the BPE
    * greedy left-to-right non-overlapping merge: each occurrence owns
    * its delimiters, so adjacent matches never share a character (a
    * single-space encoding drops every second merge in runs — "a b a
    * b" -> "ab a b"), and a pattern can never match mid-symbol or on
    * a symbol prefix. `replace` is literal (no regex) and
    * left-to-right non-overlapping in both Spark (UTF8String.replace)
    * and DuckDB. */
  private def wrapSyms(word: Column): Column =
    concat(lit(" "),
      array_join(regexp_extract_all(word, lit("."), lit(0)), "  "),
      lit(" "))

  /** Nonempty segments of the wrapped symbol string. */
  private val symsOfS = "filter(split(s, ' '), x -> x != '')"

  /** Word-type grain (word, freq, s): the merge walk runs here, not on
    * the corpus — vocabulary size is sublinear in corpus size, so at
    * 100 TB the per-round aggregates touch millions of rows while the
    * corpus is scanned exactly once to build the frequencies. */
  private def bpeWords(spark: SparkSession, dir: String): DataFrame =
    bpeWordTypes(docs(spark, dir))

  /** Word-type grain of an ARBITRARY (doc_id, text) frame — shared by
    * the online walk and `sources.BpeArtifact`'s replay encode. */
  private[graft] def bpeWordTypes(docsDf: DataFrame): DataFrame =
    docsDf
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), wrapSyms(col("word")).as("s"))

  /** The alphabet size of the corpus (distinct single-character
    * symbols over word types) — the base of "vocab = alphabet +
    * one new symbol per merge", which is what lets a vocab-size
    * target translate into a merge budget. */
  private[graft] def bpeBaseSymbols(spark: SparkSession, dir: String): Long =
    bpeWords(spark, dir)
      .select(explode(expr(symsOfS)).as("sym"))
      .agg(countDistinct(col("sym"))).head().getLong(0)

  /** (word, n_sub) lengths under a final symbolization. */
  private[graft] def bpeLens(wFinal: DataFrame): DataFrame =
    wFinal.select(col("word"),
      size(expr(symsOfS)).cast(LongType).as("n_sub"))

  /** Replay a learned merge list over a (word, ..., s) frame — how a
    * shipped tokenizer artifact encodes NEW text: the merge table IS
    * the tokenizer. Chained literal replaces, checkpointed every 16
    * rounds so long merge lists don't grow an unbounded plan. */
  private[graft] def bpeApplyMerges(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    merges.zipWithIndex.foldLeft(words) { case (df, ((pair, merged), i)) =>
      val out = df.withColumn("s",
        regexp_replace(
          col("s"),
          lit(java.util.regex.Pattern.quote(" " + pair.replace(" ", "  ") + " ")),
          lit(java.util.regex.Matcher.quoteReplacement(" " + merged + " "))))
      if ((i + 1) % 16 == 0) out.localCheckpoint() else out
    }

  /** The merge walk: [[BpeRounds]] rounds of (find the most frequent
    * adjacent symbol pair, weighted by word frequency; merge it
    * everywhere). Returns the learned merge table and the final
    * word-type symbolization.
    *
    * Discipline (KMeans.fit): one 1-row argmax collect per round —
    * the merge IS driver state, like a centroid set — and an eager
    * vocab-sized localCheckpoint per round so lineage doesn't nest
    * R aggregates deep. The pair argmax is min(struct(-n, pair)):
    * partial-aggregable (count desc, pair asc) tie-breaking, exact
    * int counts, so both engines pick identical merges. */
  private def bpeLoop(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, Long)], DataFrame) =
    bpeLoopRounds(spark, dir, BpeRounds)

  /** [[bpeLoop]] with a caller-chosen merge budget — the trainer
    * surface `sources.BpeArtifact` uses to hit a VOCAB-SIZE target:
    * every round adds exactly one new symbol to the vocabulary, so
    * "train to vocab V" is a budget of V - |base symbols| rounds, and
    * the loop converges early (`exhausted`) when no adjacent pair is
    * left to merge — the data-dependent round count real tokenizers
    * train with. The registered queries stay on the fixed
    * [[BpeRounds]] so the DuckDB oracle can keep unrolling the walk. */
  private[graft] def bpeLoopRounds(spark: SparkSession, dir: String,
      rounds: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    var w = bpeWords(spark, dir).localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val best = w
        .select(col("freq"), expr(symsOfS).as("syms"))
        .select(col("freq"), explode(expr(
          "zip_with(slice(syms, 1, size(syms)-1), slice(syms, 2, size(syms)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .agg(min(struct((-col("n")).as("neg"), col("pair").as("p"))).as("b"))
        .select(col("b.p").as("pair"), (-col("b.neg")).as("n"))
        .head()
      if (best.isNullAt(0)) {
        // every word is a single symbol already — the walk is done
        // early (can't happen on a real corpus at this round count;
        // the oracle SQL assumes non-exhaustion, which the hash check
        // itself enforces)
        exhausted = true
      } else {
        val pair = best.getString(0)
        val n = best.getLong(1)
        val merged = pair.replace(" ", "")
        w = w.withColumn("s",
            regexp_replace( // literal: pattern is quoted
              col("s"),
              lit(java.util.regex.Pattern.quote(" " + pair.replace(" ", "  ") + " ")),
              lit(java.util.regex.Matcher.quoteReplacement(" " + merged + " "))))
          .localCheckpoint()
        merges += ((r.toLong, pair, merged, n))
      }
    }
    (merges.toSeq, w)
  }

  /** The learned merge table, round by round — the artifact a
    * tokenizer ships. Oracled: DuckDB unrolls the same walk as
    * [[BpeRounds]] CTE blocks, and exact counts + lexicographic
    * tie-breaks make the merge choice engine-independent. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeLoop(spark, dir)
    spark.createDataFrame(merges)
      .toDF("merge_round", "pair", "merged", "n_pair")
      .orderBy(col("merge_round"))
  }

  /** Per-doc token counts under the learned merges: corpus tokens are
    * joined against the final word-type symbolization (a vocabulary-
    * sized equi-join, the txt_tfidf shape) and summed per doc — the
    * number a training-data pipeline budgets sequences with. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, wFinal) = bpeLoop(spark, dir)
    bpeEncodeWith(docs(spark, dir), bpeLens(wFinal))
  }

  /** The encode tail — per-doc token counts from a (word, n_sub)
    * length table; shared by the online query (lengths derived in the
    * same run) and `sources.BpeArtifact.encode` (lengths read from the
    * persisted artifact). */
  private[graft] def bpeEncodeWith(docsDf: DataFrame,
      lens: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(lens, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("bpe_per_word"))
      .orderBy(col("doc_id"))

  /** The walk's CTE prefix shared by both BPE oracles: w0 is the
    * word-type grain; each round r adds p{r} (pair counts), b{r} (the
    * argmax merge) and w{r} (the merge applied). */
  private def bpeCteSql: String = {
    val w0 =
      """w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |         ' ' || array_to_string(regexp_extract_all(word, '.'), '  ') || ' ' AS s
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY word)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq,
         |               unnest(list_transform(generate_series(1, len(syms)-1),
         |                        i -> syms[i] || ' ' || syms[i+1])) AS pair
         |        FROM (SELECT freq, list_filter(string_split(s, ' '), x -> x != '') AS syms
         |              FROM w${r - 1}))
         |  GROUP BY pair),
         |b$r AS (SELECT pair, replace(pair, ' ', '') AS merged, n
         |        FROM p$r ORDER BY n DESC, pair LIMIT 1),
         |w$r AS (SELECT word, freq,
         |               replace(s, ' ' || (SELECT replace(pair, ' ', '  ') FROM b$r) || ' ',
         |                          ' ' || (SELECT merged FROM b$r) || ' ') AS s
         |        FROM w${r - 1})""".stripMargin
    }
    (w0 +: rounds).mkString("WITH ", ",\n", "")
  }

  val bpeMergesSql: String = {
    val union = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS merge_round, pair, merged, n AS n_pair FROM b$r")
      .mkString("\n  UNION ALL ")
    s"""$bpeCteSql
       |SELECT merge_round, pair, merged, n_pair FROM (
       |  $union)
       |ORDER BY merge_round""".stripMargin
  }

  val bpeEncodeSql: String =
    s"""$bpeCteSql,
       |lens AS (
       |  SELECT word,
       |         CAST(len(list_filter(string_split(s, ' '), x -> x != '')) AS BIGINT) AS n_sub
       |  FROM w$BpeRounds),
       |toks AS (
       |  SELECT doc_id, word
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE len(word) > 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(n_sub) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bpe_per_word
       |FROM toks JOIN lens USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_bm25_topk: inverted-index BM25 retrieval
  // ---------------------------------------------------------------------

  /** Max posting-list length joined per term: hot (stopword-like)
    * terms keep a deterministic md5-sampled ~[[Bm25MaxPosting]]-doc
    * pool (the ann_knn_join idiom — inactive while postings fit, so
    * results are byte-identical at small SFs; bounded past it). */
  private val Bm25MaxPosting = 1000L

  /** Result-list depth per query; interpolated into BOTH engines so the
    * Spark plan and the DuckDB oracle can never drift (MaxBlock idiom). */
  private[graft] val Bm25TopK = 10

  /** Okapi BM25 top-10 retrieval: every 50th document is a query; its
    * distinct terms probe the inverted (term, doc, tf) index and
    * candidates score sum_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * with k1=1.2, b=0.75 and the +1-smoothed idf.
    *
    * Scale shape: ONE tokenized pass builds the (term, doc, tf) grain
    * (one shuffle); df/dl/avgdl reuse it; the probe is a
    * vocabulary-keyed equi-join whose per-term fan-out is capped by
    * [[Bm25MaxPosting]], so per-query cost is |query terms| × cap at
    * any corpus size — never corpus × corpus.
    *
    * Determinism (the bigramLogprob discipline): both transcendental/
    * rounding-sensitive factors are micro-quantized to int64 — idf
    * once per vocab term, the tf part once per candidate — and the
    * per-(query, doc) score is an exact int64 multiply-sum, order-free
    * and map-side combined; ranking ties break on doc_id. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25TermGrain(docs(spark, dir)).persist()
    perDoc.count()
    val dl = bm25DocLens(perDoc)
    val (vocab, _) = bm25Vocab(perDoc, dl)
    val postings = bm25Postings(perDoc, vocab, dl)
    val qterms = perDoc.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("q_id"), col("term"))
    Tables.released(bm25Score(qterms, postings, excludeSelf = true), perDoc)
  }

  /** The (doc_id, term, tf) grain — one tokenized pass, one shuffle.
    * Shared by the online query and [[graft.sources.TextIndexLayout]]
    * (both build and delta-append encode through here, so the persisted
    * index can never drift from the online query's tokenization). */
  private[graft] def bm25TermGrain(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** The index GEOMETRY derived from a term grain: the vocabulary with
    * build-time df and micro-quantized idf per term (plus the avgdl
    * scalar replicated onto every row so posting encoding needs no
    * second scalar join), and the 1-row corpus stats. A persisted index
    * FREEZES both — delta-appended documents are encoded under the
    * build-time df/idf/avgdl, never a re-derivation from the grown
    * corpus (the AnnIndexLayout frozen-geometry discipline). */
  /** Per-document lengths — computed ONCE per run and threaded into
    * both [[bm25Vocab]] and [[bm25Postings]] (each used to derive it
    * privately, paying the corpus-grain aggregate twice). A delta
    * append passes its own delta-derived lengths: dl is a per-document
    * property, so it is append-safe, unlike df/avgdl. */
  private[graft] def bm25DocLens(perDoc: DataFrame): DataFrame =
    perDoc.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  private[graft] def bm25Vocab(perDoc: DataFrame,
      dl: DataFrame): (DataFrame, DataFrame) = {
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
        .as("avgdl"))
    val dft = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocab = dft.crossJoin(broadcast(stats)) // 1-row scalar
      .select(col("term"), col("df"), col("n_docs"), col("avgdl"),
        round(log(((col("n_docs") - col("df")).cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5)) + lit(1.0)) * 1e6)
          .cast(LongType).as("idf_micro"))
    (vocab, stats)
  }

  /** Capped, contribution-enriched postings for the documents in
    * `perDoc` under the given vocabulary: contributions are attached
    * to the CAPPED postings (≤ vocab × cap rows) before any query
    * fan-out, so the q × postings candidate set — the only
    * corpus-scale frame — flows straight into its one groupBy shuffle
    * instead of also shuffling for a dl join. Document length comes
    * from `perDoc` itself (each doc's own tokens); df/idf/avgdl come
    * from `vocab`, which for a delta append is the FROZEN build-time
    * vocabulary — delta terms missing from it (OOV) drop out of the
    * index until the next rebuild, standard retrieval practice. */
  private[graft] def bm25Postings(perDoc: DataFrame, vocab: DataFrame,
      dl: DataFrame): DataFrame = {
    // ONE vocab join carrying (df, idf_micro, avgdl) together: joining
    // df first and idf/avgdl after the cap filter paid a SECOND
    // term-keyed exchange+join of the corpus-grain posting rows for the
    // same vocabulary row (r18 plan audit: 2 joins on term -> 1; the
    // cap filter commutes with carrying two extra vocab columns).
    perDoc.join(vocab.select(col("term"), col("df"), col("idf_micro"),
        col("avgdl")), "term")
      .filter(h60Pool(col("doc_id"), col("df"), Bm25MaxPosting))
      .join(dl, "doc_id")
      .select(col("term"), col("doc_id"),
        (col("idf_micro") *
          round(col("tf").cast(DoubleType) * lit(2.2) /
            (col("tf").cast(DoubleType) + lit(1.2) *
              (lit(0.25) + lit(0.75) *
                (col("dl").cast(DoubleType) / col("avgdl")))) * 1e6)
            .cast(LongType)).as("contrib"))
  }

  /** Probe + score + rank: qterms (q_id, term — MUST be distinct per
    * query) equi-join the postings on the vocabulary key, one groupBy
    * sums the exact int64 contributions, ties break on doc_id. Shared
    * verbatim by the online query and the persisted-index serve path —
    * byte-equality between them is by construction. */
  private[graft] def bm25Score(qterms: DataFrame, postings: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score_pico").desc, col("doc_id"))
    val cand = qterms.join(postings, "term")
    (if (excludeSelf) cand.filter(col("q_id") =!= col("doc_id")) else cand)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_pico"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= Bm25TopK)
      .select(col("q_id"), col("doc_id"), col("score_pico"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val bm25TopKSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |perdoc AS (
       |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM perdoc GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM dl),
       |dft AS (SELECT term, count(*) AS df FROM perdoc GROUP BY 1),
       |idf AS (
       |  SELECT term, df, avgdl,
       |         CAST(round(ln((CAST(n_docs - df AS DOUBLE) + 0.5)
       |           / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_micro
       |  FROM dft, stats),
       |postings AS (
       |  SELECT p.term, p.doc_id, p.tf
       |  FROM perdoc p JOIN dft USING (term)
       |  WHERE ${h60PoolSql("p.doc_id", "df", Bm25MaxPosting)}),
       |qterms AS (
       |  SELECT doc_id AS q_id, term FROM perdoc WHERE doc_id % 50 = 0),
       |scored AS (
       |  SELECT q.q_id, p.doc_id,
       |         CAST(sum(i.idf_micro *
       |           CAST(round(CAST(p.tf AS DOUBLE) * 2.2
       |             / (CAST(p.tf AS DOUBLE) + 1.2 *
       |                (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / i.avgdl))) * 1e6) AS BIGINT))
       |           AS BIGINT) AS score_pico
       |  FROM qterms q
       |  JOIN postings p USING (term)
       |  JOIN dl ON p.doc_id = dl.doc_id
       |  JOIN idf i USING (term)
       |  WHERE q.q_id != p.doc_id
       |  GROUP BY 1, 2)
       |SELECT q_id, doc_id, score_pico, rank FROM (
       |  SELECT q_id, doc_id, score_pico,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY score_pico DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $Bm25TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // txt_hybrid_rrf: hybrid sparse+dense retrieval fused by RRF
  // ---------------------------------------------------------------------

  /** RRF constant (Cormack et al. 2009's k=60) — interpolated into
    * BOTH engines. */
  private val RrfK = 60L

  /** Hybrid retrieval: fuse the BM25 lexical ranking and the
    * multi-probe LSH embedding ranking per query with Reciprocal Rank
    * Fusion — score(d) = Σ_legs 1/(k + rank_leg(d)) — the standard
    * production shape for RAG corpora where neither lexical match nor
    * embedding similarity alone recalls everything. Queries are the
    * shared every-50th-id subset, so doc_id and vec_id refer to the
    * same items by construction (TESTDATA.md).
    *
    * Scale shape: each leg is its own already-bounded pipeline (capped
    * postings / bucketed LSH probes); the fusion itself touches only
    * the two ≤top-10 lists per query — a full-outer equi-join and a
    * ≤20-row-per-query window, nothing corpus-scale. Determinism: RRF
    * contributions are exact int64 truncated division (1e6 div (k +
    * rank) — Spark `div` == DuckDB `//`), ties break on doc_id. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val sparse = bm25TopK(spark, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("r_sparse"))
    val dense = SimilarityQueries.lshMultiProbe(spark, dir)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rank").as("r_dense"))
    rrfFuse(sparse, dense)
  }

  /** The RRF fusion itself — ONE implementation shared by the online
    * query above and the persisted-index serving path
    * ([[graft.sources.HybridIndexLayout.serveHybrid]]), so the fusion
    * arithmetic/tie-breaks can never drift between them. Inputs are
    * the two legs' top-k frames as (q_id, doc_id, r_sparse) and
    * (q_id, doc_id, r_dense); a doc present in only one leg enters the
    * full-outer fusion with the other leg's term coalesced to 0 —
    * which is also what makes serving tolerate an OOV-text or
    * missing-embedding request (that leg simply returns no rows for
    * the query and fusion degrades to the surviving leg). */
  private[graft] def rrfFuse(sparse: DataFrame, dense: DataFrame): DataFrame = {
    val fused = sparse.as("s")
      .join(dense.as("d"),
        col("s.q_id") === col("d.q_id") && col("s.doc_id") === col("d.doc_id"),
        "full_outer")
      .select(
        coalesce(col("s.q_id"), col("d.q_id")).as("q_id"),
        coalesce(col("s.doc_id"), col("d.doc_id")).as("doc_id"),
        (coalesce(expr(s"1000000 div ($RrfK + r_sparse)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + r_dense)"), lit(0L)))
          .as("rrf_micro"),
        col("r_sparse"), col("r_dense"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= Bm25TopK)
      .select(col("q_id"), col("doc_id"), col("rrf_micro"),
        col("r_sparse"), col("r_dense"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val hybridRrfSql: String =
    s"""WITH sparseq AS ($bm25TopKSql),
       |denseq AS (${SimilarityQueries.lshMultiProbeSql}),
       |fused AS (
       |  SELECT COALESCE(s.q_id, d.q_id) AS q_id,
       |         COALESCE(s.doc_id, d.n_id) AS doc_id,
       |         CAST(COALESCE(1000000 // ($RrfK + s.rank), 0)
       |            + COALESCE(1000000 // ($RrfK + d.rank), 0) AS BIGINT)
       |           AS rrf_micro,
       |         s.rank AS r_sparse, d.rank AS r_dense
       |  FROM sparseq s FULL OUTER JOIN denseq d
       |    ON s.q_id = d.q_id AND s.doc_id = d.n_id)
       |SELECT q_id, doc_id, rrf_micro, r_sparse, r_dense, rank FROM (
       |  SELECT q_id, doc_id, rrf_micro, r_sparse, r_dense,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused)
       |WHERE rank <= $Bm25TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // txt_quantiles: exact interpolated percentiles of doc length
  // ---------------------------------------------------------------------

  /** Per-source token-count quantiles. Spark's exact `percentile` and
    * DuckDB's `quantile_cont` share the interpolation lo+(hi-lo)*g at
    * position (n-1)*q, so doubles are bit-identical. (At 100 TB the
    * exact form becomes approx_percentile — same plan shape, sketch
    * buffer instead of the value map.) */
  def lenQuantiles(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        percentile(col("n_tokens"), lit(0.25)).as("p25"),
        percentile(col("n_tokens"), lit(0.5)).as("p50"),
        percentile(col("n_tokens"), lit(0.75)).as("p75"),
        percentile(col("n_tokens"), lit(0.99)).as("p99"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("source"))

  val lenQuantilesSql: String =
    """WITH t AS (
      |  SELECT source, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |       quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS p25,
      |       quantile_cont(CAST(n_tokens AS DOUBLE), 0.5) AS p50,
      |       quantile_cont(CAST(n_tokens AS DOUBLE), 0.75) AS p75,
      |       quantile_cont(CAST(n_tokens AS DOUBLE), 0.99) AS p99,
      |       max(n_tokens) AS max_tokens
      |FROM t
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** [[lenQuantiles]] with approx_percentile (a Greenwald-Khanna
    * sketch) replacing the exact percentiles — the 100 TB path: exact
    * percentile buffers every value per group; the sketch is one pass,
    * bounded memory, mergeable across partitions. No DuckDB oracle
    * (sketch results aren't cross-engine reproducible); the spec
    * bounds its error against the exact query instead. */
  def lenQuantilesApprox(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_percentile(col("n_tokens"), lit(0.25), lit(1000)).as("p25"),
        approx_percentile(col("n_tokens"), lit(0.5), lit(1000)).as("p50"),
        approx_percentile(col("n_tokens"), lit(0.75), lit(1000)).as("p75"),
        approx_percentile(col("n_tokens"), lit(0.99), lit(1000)).as("p99"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("source"))

  // ---------------------------------------------------------------------
  // txt_stopword_filter: token-level corpus cleaning
  // ---------------------------------------------------------------------

  /** Stopword removal + short-token drop — the token-filter pass of a
    * training-data cleaning pipeline. Pure per-row array HOF work
    * (zero shuffles, codegen'd): tokenize once, filter against a
    * broadcast-literal stopword set, re-hash the cleaned text so the
    * downstream exact-dedup stage can run on cleaned content. */
  private val FilterStops = Seq("join", "hash", "row", "scan", "filter")

  def stopwordFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        filter(col("toks"),
          t => !t.isin(FilterStops: _*) && length(t) >= 3).as("kept"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        size(col("kept")).cast(LongType).as("n_kept"),
        h60(concat_ws(" ", col("kept"))).as("kept_hash"))
      .orderBy(col("doc_id"))

  val stopwordFilterSql: String = {
    val stops = FilterStops.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |k AS (
       |  SELECT doc_id, toks,
       |         list_filter(toks,
       |           x -> NOT list_contains([$stops], x) AND length(x) >= 3) AS kept
       |  FROM t)
       |SELECT doc_id,
       |       len(toks) AS n_tokens,
       |       len(kept) AS n_kept,
       |       ${h60Sql("array_to_string(kept, ' ')")} AS kept_hash
       |FROM k
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // txt_tfidf: top terms per source by tf-idf
  // ---------------------------------------------------------------------

  /** Top-5 characteristic terms per source by tf-idf — the corpus-
    * profiling / domain-signature pass of a training-data pipeline.
    * Inverted-index shaped: ONE pass over the corpus explode reduces
    * to the (term, doc, source) grain, from which both document
    * frequencies and per-source term frequencies aggregate; the
    * reduced grain is persisted so the expensive explode never
    * re-executes (the twice-consumed-DataFrame trap). The tf x df
    * join is |vocabulary|-sized, never |corpus|-sized, and the
    * final window runs over the per-source aggregate — no
    * full-corpus sort anywhere.
    *
    * ln() is a libm transcendental and differs between engines at the
    * last ulp, so the score is quantized to milli-units
    * (round(score * 1e3) as int64): both engines then rank and emit
    * identical integers. Quantization shrinks, not erases, the
    * boundary risk — a value within ~score*1e-16 of a .5 milli
    * boundary could still round apart — but at 1e3 the window is
    * ~1e-12 per value; the exact-by-construction alternative (the
    * centroids' power-of-two fixed point) does not exist for a
    * transcendental. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val K = 5
    // (term, doc, source) grain: one shuffle over the explode output;
    // eager build (count) before the two consumers, as in ngramJaccard
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("c"))
      .persist()
    perDoc.count()
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val df = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = perDoc.groupBy(col("source"), col("term"))
      .agg(sum(col("c")).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score_milli").desc, col("term"))
    Tables.released(
      tf.join(df, "term")
        .crossJoin(nDocs) // 1-row scalar, broadcast
        .select(col("source"), col("term"), col("tf"), col("df"),
          round(col("tf").cast(DoubleType) *
            log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)) *
            1e3).cast(LongType).as("score_milli"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= K)
        .orderBy(col("source"), col("rank")),
      perDoc)
  }

  val tfidfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |perdoc AS (
      |  SELECT term, doc_id, source, count(*) AS c FROM terms GROUP BY 1, 2, 3),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |df AS (SELECT term, count(*) AS df FROM perdoc GROUP BY term),
      |tf AS (
      |  SELECT source, term, CAST(sum(c) AS BIGINT) AS tf FROM perdoc GROUP BY 1, 2),
      |scored AS (
      |  SELECT source, term, tf, df,
      |         CAST(round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e3) AS BIGINT) AS score_milli
      |  FROM tf JOIN df USING (term), n),
      |ranked AS (
      |  SELECT source, term, tf, df, score_milli,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY score_milli DESC, term) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT source, term, tf, df, score_milli, rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------------
  // txt_entropy: character-distribution entropy scoring
  // ---------------------------------------------------------------------

  /** Corpus alphabet (the testdata is lowercase words + single spaces;
    * TESTDATA.md). The fixed, ordered alphabet makes the entropy fold
    * order syntactic — identical on both engines. */
  private val Alphabet: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz".map(_.toString) :+ " ").toSeq

  /** Per-document character-unigram Shannon entropy — the
    * model-free "gibberish / low-diversity" scorer of a training-data
    * quality pipeline (a document whose char distribution collapses to
    * a few symbols is boilerplate or spam).
    *
    * Per-row only: 27 substring-count passes + one fixed-order fold,
    * fully codegen'd; the one pre-sort shuffle is the doc_id
    * repartition used as a CollapseProject barrier (cnts is referenced
    * twice below — without the barrier the 27 split() passes inline
    * into each reference and run twice per row). The shuffle moves
    * (doc_id, long, 28 longs) per row — far narrower than the text it
    * replaces recomputing. ln() is a libm transcendental (cross-engine
    * ulp risk, see tfidf), so the entropy is quantized to 1e-4 nats:
    * both engines emit identical int64s. Char counts via
    * size(split(text, c)) - 1 — Spark's split keeps trailing empties
    * (limit -1) exactly like DuckDB's string_split, so counts agree.
    * Characters outside the a-z+space alphabet land in a residual
    * bucket (n_chars_m minus the alphabet counts, appended as the
    * 28th element in the same fold position on both engines), so the
    * distribution always sums to 1 and entropy stays correct even if
    * the corpus grows digits or punctuation; the bucket counts as one
    * distinct symbol when non-empty. */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    val n = col("n_chars_m").cast(DoubleType)
    val pTerm: (Column, Column) => Column = (acc, c) => {
      val p = c.cast(DoubleType) / n
      acc + when(c > 0L, p * log(p)).otherwise(lit(0.0))
    }
    docs(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        array(Alphabet.map(c =>
          (size(split(col("text"), c)) - 1).cast(LongType)): _*).as("cnts27"))
      // barrier: cnts27 is consumed below; CollapseProject would
      // otherwise inline the 27 split() passes into each reference
      .repartition(col("doc_id"))
      // residual bucket: anything not in the alphabet. The post-barrier
      // projections may inline this concat into both consumers, but the
      // re-computed part is a 27-element long fold — cheap — while the
      // expensive split() passes stay before the shuffle, computed once.
      .withColumn("cnts",
        concat(col("cnts27"), array(
          (col("n_chars_m") -
            aggregate(col("cnts27"), lit(0L), (a, c) => a + c)))))
      .select(
        col("doc_id"),
        col("n_chars_m"),
        size(filter(col("cnts"), c => c > 0L)).cast(LongType)
          .as("n_distinct_chars"),
        round(-aggregate(col("cnts"), lit(0.0), pTerm) * 1e4)
          .cast(LongType).as("entropy_e4"))
      .orderBy(col("doc_id"))
  }

  val entropySql: String = {
    val alphaList = Alphabet.map(c => s"'$c'").mkString(", ")
    s"""WITH t0 AS (
       |  SELECT doc_id,
       |         CAST(length(text) AS BIGINT) AS n_chars_m,
       |         list_transform([$alphaList],
       |           c -> CAST(len(string_split(text, c)) AS BIGINT) - 1) AS cnts27
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, n_chars_m,
       |         list_append(cnts27, n_chars_m - list_sum(cnts27)) AS cnts
       |  FROM t0)
       |SELECT doc_id, n_chars_m,
       |       CAST(len(list_filter(cnts, c -> c > 0)) AS BIGINT) AS n_distinct_chars,
       |       CAST(round(-list_sum(list_transform(cnts,
       |           c -> CASE WHEN c > 0
       |                THEN (CAST(c AS DOUBLE) / CAST(n_chars_m AS DOUBLE))
       |                     * ln(CAST(c AS DOUBLE) / CAST(n_chars_m AS DOUBLE))
       |                ELSE 0.0 END)) * 1e4) AS BIGINT) AS entropy_e4
       |FROM t
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // txt_repetition: Gopher-style repetition filters
  // ---------------------------------------------------------------------

  /** Per-document repetition metrics in the shape of the Gopher /
    * MassiveText quality filters (Rae et al. 2021, table A1): duplicate
    * word fraction, top-word character coverage, duplicate-bigram
    * fraction, top-bigram character coverage, duplicate-trigram
    * fraction, and a pass/fail gate over fixed thresholds.
    *
    * Shape (r19): ALL grains are per-row HOF work — each doc's gram
    * stats come from one sorted run-length pass over its own token /
    * bigram array (sort_array groups equal grams adjacently; a running
    * `run × length(gram)` maximum equals the relational max(c·len)
    * exactly, because the max of a run is reached at its last element),
    * and the trigram fraction stays on the already-distinct shingle
    * hashes. The former relational form (explode to gram grain → two
    * shrinking aggregations → self-join) shuffled the corpus at TOKEN
    * grain; per-doc sort+scan is O(n log n) in the doc's own length,
    * never leaves the row, and drops the query to a single corpus pass
    * with no join — at 100 TB the only shuffle left is the
    * load-balancing repartition. All fractions remain single divisions
    * of exact int64s — bit-identical cross-engine with no quantization
    * (RepetitionSpec pins per-row == relational on a planted fixture).
    * "Coverage" is max over grams of c*len(gram)/n_chars (an
    * argmax-free formulation: no tie-breaking divergence between
    * engines).
    *
    * Caveat: the distinct-trigram count reuses the 60-bit shingle
    * hashes, so a hash collision between two distinct trigrams in the
    * SAME document would deflate the count by one. Both engines hash
    * identically (oracle can't diverge); within one document the
    * collision probability is ~n_tri^2 / 2^61 — negligible even for
    * million-token documents — and a deflated count only makes the
    * quality gate marginally stricter. */
  /** max over the grams of a SORTED gram array of
    * count(gram) × length(gram), as one run-length fold: equal grams
    * are adjacent after sort_array, the run counter resets on every
    * new gram, and `run × length` is maximal at the run's last
    * element, so the running `greatest` equals the relational
    * max(c·len(gram)) exactly. Sort order beyond grouping equals
    * adjacently is irrelevant — only equality is consulted. */
  private def runCover(sortedGrams: Column): Column =
    aggregate(
      sortedGrams,
      struct(lit(0L).as("run"), lit(0L).as("best"),
        lit(null).cast("string").as("prev")),
      (acc, x) => {
        // first element / new gram: x === null-prev is NULL -> otherwise
        val run = when(x === acc("prev"), acc("run") + lit(1L))
          .otherwise(lit(1L))
        struct(run.as("run"),
          greatest(acc("best"), run * length(x).cast(LongType)).as("best"),
          x.as("prev"))
      },
      acc => acc("best"))

  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // repartition carries RAW text (narrowest possible shuffle) and
    // load-balances the single-row-group scan; toks is projected once
    // above it (multi-referenced non-cheap alias — CollapseProject
    // leaves it materialized) and every metric is row-local from there:
    // no persist fence, no token-grain shuffle, no join. A null text has
    // no tokens, so it has no row, as in the exploded form and the oracle.
    val base = docs(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        tokens(col("text")).as("toks"))

    val bigramsOf = transform(
      sequence(lit(0), size(col("toks")) - 2),
      i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(2))))
    val stats = base.select(
      col("doc_id"), col("n_chars_m"),
      size(col("toks")).cast(LongType).as("t1"),
      size(array_distinct(col("toks"))).cast(LongType).as("u1"),
      runCover(sort_array(col("toks"))).as("cov1"),
      // guard: sequence(0, size-2) is only well-formed for size >= 2
      // (the relational form filtered those rows out, yielding NULL
      // t2/u2/cov2 from the ng=2 pivot — mirrored here)
      when(size(col("toks")) >= 2, (size(col("toks")) - 1).cast(LongType))
        .as("t2"),
      when(size(col("toks")) >= 2,
        size(array_distinct(bigramsOf)).cast(LongType)).as("u2"),
      when(size(col("toks")) >= 2, runCover(sort_array(bigramsOf))).as("cov2"),
      when(size(col("toks")) >= 3, size(col("toks")) - 2).otherwise(lit(0))
        .cast(LongType).as("t3"),
      size(shingleHashesOfToks(col("toks"), 3)).cast(LongType).as("d3"))

    val nChars = col("n_chars_m").cast(DoubleType)
    val dupWordFrac = lit(1.0) - col("u1").cast(DoubleType) / col("t1").cast(DoubleType)
    val topWordFrac = col("cov1").cast(DoubleType) / nChars
    val dupBigramFrac = when(coalesce(col("t2"), lit(0L)) > 0L,
      lit(1.0) - col("u2").cast(DoubleType) / col("t2").cast(DoubleType))
      .otherwise(lit(0.0))
    val topBigramFrac = coalesce(col("cov2"), lit(0L)).cast(DoubleType) / nChars
    val dupTrigramFrac = when(col("t3") > 0L,
      lit(1.0) - col("d3").cast(DoubleType) / col("t3").cast(DoubleType))
      .otherwise(lit(0.0))

    stats
      .select(
        col("doc_id"),
        col("n_chars_m"),
        col("t1").as("n_tokens"),
        dupWordFrac.as("dup_word_frac"),
        topWordFrac.as("top_word_char_frac"),
        dupBigramFrac.as("dup_bigram_frac"),
        topBigramFrac.as("top_bigram_char_frac"),
        dupTrigramFrac.as("dup_trigram_frac"),
        when(dupWordFrac < 0.5 && topWordFrac < 0.3 && dupTrigramFrac < 0.5,
          lit(1L)).otherwise(lit(0L)).as("passes_quality"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
       |         string_split(text, ' ') AS toks, text
       |  FROM documents),
       |uni AS (
       |  SELECT doc_id, n_chars_m, 1 AS ng, unnest(toks) AS gram FROM base),
       |big AS (
       |  SELECT doc_id, n_chars_m, 2 AS ng,
       |         unnest(list_transform(generate_series(1, len(toks) - 1),
       |                i -> array_to_string(toks[i:i+1], ' '))) AS gram
       |  FROM base WHERE len(toks) >= 2),
       |g AS (
       |  SELECT doc_id, n_chars_m, ng, gram, count(*) AS c
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
       |  GROUP BY 1, 2, 3, 4),
       |a AS (
       |  SELECT doc_id, n_chars_m, ng,
       |         CAST(sum(c) AS BIGINT) AS total,
       |         count(*) AS uniq,
       |         CAST(max(c * length(gram)) AS BIGINT) AS cover
       |  FROM g GROUP BY 1, 2, 3),
       |p AS (
       |  SELECT doc_id, n_chars_m,
       |         max(CASE WHEN ng = 1 THEN total END) AS t1,
       |         max(CASE WHEN ng = 1 THEN uniq END) AS u1,
       |         max(CASE WHEN ng = 1 THEN cover END) AS cov1,
       |         max(CASE WHEN ng = 2 THEN total END) AS t2,
       |         max(CASE WHEN ng = 2 THEN uniq END) AS u2,
       |         max(CASE WHEN ng = 2 THEN cover END) AS cov2
       |  FROM a GROUP BY 1, 2),
       |tri AS (
       |  SELECT doc_id,
       |         CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS BIGINT) AS t3,
       |         CAST(len(${shingleHashesSql(3)}) AS BIGINT) AS d3
       |  FROM base),
       |m AS (
       |  SELECT p.doc_id, p.n_chars_m, p.t1 AS n_tokens,
       |         1.0 - CAST(u1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS dup_word_frac,
       |         CAST(cov1 AS DOUBLE) / CAST(n_chars_m AS DOUBLE) AS top_word_char_frac,
       |         CASE WHEN COALESCE(t2, 0) > 0
       |              THEN 1.0 - CAST(u2 AS DOUBLE) / CAST(t2 AS DOUBLE)
       |              ELSE 0.0 END AS dup_bigram_frac,
       |         CAST(COALESCE(cov2, 0) AS DOUBLE) / CAST(n_chars_m AS DOUBLE) AS top_bigram_char_frac,
       |         CASE WHEN t3 > 0
       |              THEN 1.0 - CAST(d3 AS DOUBLE) / CAST(t3 AS DOUBLE)
       |              ELSE 0.0 END AS dup_trigram_frac
       |  FROM p JOIN tri ON p.doc_id = tri.doc_id)
       |SELECT doc_id, n_chars_m, n_tokens, dup_word_frac, top_word_char_frac,
       |       dup_bigram_frac, top_bigram_char_frac, dup_trigram_frac,
       |       CAST(CASE WHEN dup_word_frac < 0.5 AND top_word_char_frac < 0.3
       |                      AND dup_trigram_frac < 0.5
       |                 THEN 1 ELSE 0 END AS BIGINT) AS passes_quality
       |FROM m
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_length_deciles: cumulative-distribution length binning
  // ---------------------------------------------------------------------

  /** Document-length decile profile — the length-distribution report a
    * corpus curation pass uses to pick truncation/packing bounds.
    *
    * Scale shape: deciles of N documents are computed WITHOUT a global
    * sort of the corpus — documents first aggregate to the (n_chars ->
    * count) grain (one shuffle, map-side combined; distinct lengths ≪
    * documents), and the single-partition cumulative window runs over
    * that bounded grain only — the same pre-aggregated-window
    * discipline as the hourly rollups. Decile assignment is pure int64
    * arithmetic (floor((cum-1)*10 / total)), so both engines bin
    * identically; per-decile stats then re-aggregate the same grain. */
  def lengthDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val byLen = docs(spark, dir)
      .groupBy(col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val total = byLen.agg(sum(col("cnt")).as("total"))
    byLen.crossJoin(total) // 1-row scalar, broadcast
      .withColumn("cum", sum(col("cnt")).over(w))
      // integral div (Column./ is DOUBLE division and can round across
      // an integer boundary); `div` is exact int64 on both engines
      .withColumn("decile", expr("((cum - 1) * 10) div total") + 1L)
      .groupBy(col("decile"))
      .agg(
        sum(col("cnt")).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars") * col("cnt")).as("total_chars"))
      .orderBy(col("decile"))
  }

  val lengthDecilesSql: String =
    """WITH bylen AS (
      |  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM bylen),
      |cum AS (
      |  SELECT n_chars, cnt, total,
      |         CAST(sum(cnt) OVER (ORDER BY n_chars
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM bylen, tot),
      |binned AS (
      |  SELECT n_chars, cnt,
      |         ((cum - 1) * 10) // total + 1 AS decile
      |  FROM cum)
      |SELECT decile,
      |       CAST(sum(cnt) AS BIGINT) AS n_docs,
      |       min(n_chars) AS min_chars,
      |       max(n_chars) AS max_chars,
      |       CAST(sum(n_chars * cnt) AS BIGINT) AS total_chars
      |FROM binned
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------------
  // txt_pack_sequences: context-window packing plan
  // ---------------------------------------------------------------------

  /** Sequence-packing layout: concatenate each source's documents in
    * deterministic (doc_id) order and mark where the 512-token context
    * windows land — the packing audit an LM data loader runs before
    * writing training shards. A document is assigned to the window its
    * first token falls in, so a long document can overflow its window
    * (fill_ratio > 1); the report exists precisely to surface those
    * boundaries.
    *
    * Scale shape: a DISTRIBUTED prefix sum — range-partitioned local
    * running sums plus earlier-partition totals (see the inline
    * comment; a window partitioned by the fixed source domain would
    * serialize each source, and PlanSpec rejects that shape) — then a
    * (source, seq_id) rollup. All binning is exact int64 (`div`),
    * bit-identical cross-engine. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packPlanOf(spark, docs(spark, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens")))

  /** The packing core over an ARBITRARY (source, doc_id, n_tokens)
    * frame — shared by the registered query (live corpus, tokenized
    * here) and `sources.CuratedCorpusLayout.servePacked` (the curated
    * artifact, whose persisted n_tokens skips tokenization entirely). */
  private[graft] def packPlanOf(spark: SparkSession, d0: DataFrame,
      B: Long = 512L): DataFrame = {
    // Distributed prefix sum (the ev_user_ranks position idiom): the
    // source domain is FIXED, so a window partitioned by source alone
    // serializes a whole source through one task as the corpus grows.
    // Range-partition on the unique (source, doc_id) key instead —
    // even a single dominant source splits across partitions — pin the
    // partition ids with an eager checkpoint, and reconstruct the
    // exact running sum as local-prefix + earlier-partition totals
    // (tiny non-equi broadcast join over pids x sources rows).
    val d = d0
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .repartitionByRange(col("source"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val totals = d.groupBy(col("pid"), col("source"))
      .agg(sum(col("n_tokens")).as("pt"))
    val offs = totals
      .join(broadcast(totals.select(col("pid").as("p2"),
        col("source").as("s2"), col("pt").as("pt2"))),
        col("s2") === col("source") && col("p2") < col("pid"), "left")
      .groupBy(col("pid"), col("source"))
      .agg(coalesce(sum(col("pt2")), lit(0L)).as("off"))
    val lw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"), col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    d.join(broadcast(offs), Seq("pid", "source"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(lw), lit(0L)) + col("off"))
      .withColumn("seq_id", expr(s"cum_before div $B"))
      .groupBy(col("source"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio",
        col("seq_tokens").cast(DoubleType) / lit(B.toDouble))
      .orderBy(col("source"), col("seq_id"))
  }

  val packSequencesSql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_tokens,
      |         COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
      |  FROM d)
      |SELECT source, CAST(cum_before // 512 AS BIGINT) AS seq_id,
      |       count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
      |       min(doc_id) AS first_doc,
      |       max(doc_id) AS last_doc,
      |       CAST(sum(n_tokens) AS DOUBLE) / 512.0 AS fill_ratio
      |FROM c
      |GROUP BY source, seq_id
      |ORDER BY source, seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_chunk_dupes: boilerplate chunk detection
  // ---------------------------------------------------------------------

  /** Duplicated 32-token chunks across the corpus — the boilerplate
    * detector (headers, footers, license blocks, templated passages)
    * that document-level dedup misses: two different documents sharing
    * one pasted paragraph. Chunks are non-overlapping and tail
    * fragments are dropped, so each token participates in at most one
    * chunk and counts stay interpretable.
    *
    * Scale shape: per-row chunking + one hash-shuffle on the 60-bit
    * chunk key (never the chunk text — the key is computed before the
    * exchange); the HAVING > 1 collapses the output to the duplicated
    * tail. This is dedup_exact at sub-document grain. */
  def chunkDupes(spark: SparkSession, dir: String): DataFrame = {
    val C = 32
    docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= C)
      // barrier: toks feeds the chunk generator; CollapseProject would
      // re-split the text once per generated chunk
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(
        transform(
          sequence(lit(0L), expr(s"size(toks) div $C") - 1L, lit(1L)),
          i => concat_ws(" ", slice(col("toks"), (i * C + 1).cast(IntegerType), lit(C)))))
        .as("chunk"))
      .select(col("doc_id"), h60(col("chunk")).as("chunk_key"))
      .groupBy(col("chunk_key"))
      .agg(
        count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") > 1L)
      .orderBy(col("n_occ").desc, col("first_doc"), col("chunk_key"))
  }

  val chunkDupesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |c AS (
       |  SELECT doc_id, array_to_string(toks[i*32+1:i*32+32], ' ') AS chunk FROM (
       |    SELECT doc_id, toks, unnest(generate_series(0, len(toks) // 32 - 1)) AS i
       |    FROM d)),
       |h AS (SELECT doc_id, ${h60Sql("chunk")} AS chunk_key FROM c)
       |SELECT chunk_key, count(*) AS n_occ,
       |       count(DISTINCT doc_id) AS n_docs,
       |       min(doc_id) AS first_doc
       |FROM h GROUP BY 1 HAVING count(*) > 1
       |ORDER BY n_occ DESC, first_doc, chunk_key""".stripMargin

  // ---------------------------------------------------------------------
  // txt_dataset_card: the one-row corpus datasheet
  // ---------------------------------------------------------------------

  /** The datasheet-for-datasets summary (Gebru et al. 2021) a corpus
    * publishes next to its parquet: sizes, composition cardinalities,
    * dominant language share, exact-duplication rate, and length
    * distribution — one row a registry can index, derived in a
    * single pass plus one distinct over 16-byte content hashes.
    *
    * Scale shape: everything is one scan with map-side-combined
    * aggregates; the only shuffle is the md5 distinct (the exact
    * dedup reduction the card reports on). The dominant-language
    * share reuses the |langs|-row rollup under a 1-row broadcast. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"),
        md5(col("text")).as("h"))
      .persist() // one tokenize pass feeds every aggregate
    d.count()
    val core = d.agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("source")).as("n_sources"),
      count_distinct(col("lang")).as("n_langs"),
      sum(col("n_toks")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      count_distinct(col("h")).as("n_distinct_docs"),
      percentile(col("n_toks"), lit(0.5)).as("median_tokens"),
      max(col("n_toks")).as("max_tokens"))
    val topLang = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("n").as("top_lang_docs"))
    Tables.released(
      core.crossJoin(broadcast(topLang)) // both 1-row
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("n_tokens"), col("n_chars"), col("n_distinct_docs"),
          Tables.ratio(col("n_docs") - col("n_distinct_docs"), col("n_docs"))
            .as("dup_rate"),
          col("median_tokens"), col("max_tokens"),
          col("top_lang"),
          Tables.ratio(col("top_lang_docs"), col("n_docs"))
            .as("top_lang_share")),
      d)
  }

  val datasetCardSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source, n_chars,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         md5(text) AS h
      |  FROM documents),
      |core AS (
      |  SELECT count(*) AS n_docs,
      |         count(DISTINCT source) AS n_sources,
      |         count(DISTINCT lang) AS n_langs,
      |         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |         count(DISTINCT h) AS n_distinct_docs,
      |         quantile_cont(CAST(n_toks AS DOUBLE), 0.5) AS median_tokens,
      |         max(n_toks) AS max_tokens
      |  FROM d),
      |top_lang AS (
      |  SELECT lang AS top_lang, count(*) AS top_lang_docs
      |  FROM d GROUP BY lang
      |  ORDER BY count(*) DESC, lang LIMIT 1)
      |SELECT n_docs, n_sources, n_langs, n_tokens, n_chars,
      |       n_distinct_docs,
      |       CAST(n_docs - n_distinct_docs AS DOUBLE)
      |         / nullif(CAST(n_docs AS DOUBLE), 0.0) AS dup_rate,
      |       median_tokens, max_tokens, top_lang,
      |       CAST(top_lang_docs AS DOUBLE)
      |         / nullif(CAST(n_docs AS DOUBLE), 0.0) AS top_lang_share
      |FROM core, top_lang""".stripMargin

  // ---------------------------------------------------------------------
  // txt_zipf_fit: Zipf-law exponent of the token distribution
  // ---------------------------------------------------------------------

  /** Ranks fitted — interpolated into BOTH engines. */
  private val ZipfTopK = 500

  /** Zipf fit: least-squares slope of log(count) on log(rank) over
    * the top-[[ZipfTopK]] token types — natural corpora sit near
    * slope −1; a synthetic or templated corpus (like this testdata)
    * shows a much flatter tail, which is exactly what the audit is
    * for: screening scraped/generated text whose token statistics
    * are un-language-like before it pollutes a training mix.
    *
    * Scale shape: one tokenize pass to type counts (the txt_token_hist
    * reduction), a TakeOrdered top-K, then the regression runs over K
    * rows with micro-quantized logs summed in exact int64 (order-free)
    * — the one transcendental per point is quantized once (the
    * bigramLogprob discipline) and the closed-form slope/intercept/r²
    * are scalar doubles at the edge. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term"))
    val top = docs(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(ZipfTopK)
      // rank window runs over the K-row TakeOrdered output only
      .withColumn("r", row_number().over(w).cast(LongType))
      .select(
        round(log(col("r").cast(DoubleType)) * 1e6).cast(LongType).as("x"),
        round(log(col("n").cast(DoubleType)) * 1e6).cast(LongType).as("y"))
    val m = top.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
    def d(c: String): Column = col(c).cast(DoubleType) / 1e6
    def dd(c: String): Column = col(c).cast(DoubleType) / 1e12
    val k = col("k").cast(DoubleType)
    val cxy = dd("sxy") - d("sx") * d("sy") / k
    val cxx = dd("sxx") - d("sx") * d("sx") / k
    val cyy = dd("syy") - d("sy") * d("sy") / k
    m.select(col("k").as("n_terms"),
      (cxy / cxx).as("zipf_slope"),
      (d("sy") / k - cxy / cxx * (d("sx") / k)).as("intercept"),
      (cxy * cxy / (cxx * cyy)).as("r2"))
  }

  val zipfFitSql: String =
    s"""WITH counts AS (
       |  SELECT term, count(*) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY term ORDER BY n DESC, term LIMIT $ZipfTopK),
       |pts AS (
       |  SELECT CAST(round(ln(CAST(row_number()
       |             OVER (ORDER BY n DESC, term) AS DOUBLE)) * 1e6) AS BIGINT) AS x,
       |         CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS y
       |  FROM counts),
       |m AS (
       |  SELECT count(*) AS k, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(y * y) AS BIGINT) AS syy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM pts),
       |c AS (
       |  SELECT k,
       |         CAST(sxy AS DOUBLE) / 1e12 - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6) / CAST(k AS DOUBLE) AS cxy,
       |         CAST(sxx AS DOUBLE) / 1e12 - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6) / CAST(k AS DOUBLE) AS cxx,
       |         CAST(syy AS DOUBLE) / 1e12 - (CAST(sy AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6) / CAST(k AS DOUBLE) AS cyy,
       |         CAST(sx AS DOUBLE) / 1e6 AS sxd, CAST(sy AS DOUBLE) / 1e6 AS syd
       |  FROM m)
       |SELECT k AS n_terms,
       |       cxy / cxx AS zipf_slope,
       |       syd / CAST(k AS DOUBLE) - cxy / cxx * (sxd / CAST(k AS DOUBLE)) AS intercept,
       |       cxy * cxy / (cxx * cyy) AS r2
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // txt_cdc_chunks: content-defined chunking (FastCDC-style) + dedup
  // accounting
  // ---------------------------------------------------------------------

  /** CDC boundary modulus: a window position is a chunk boundary iff
    * its span hash % CdcMod == 0 — expected chunk ≈ CdcMod window
    * positions. Interpolated into BOTH engines. */
  private val CdcMod = 16L

  /** 2^40 hash reduction so position-weighted signature sums stay in
    * int64: weights are CHUNK-RELATIVE (relpos+1 ≤ chunk length), so
    * each term is ≤ 2^40·len and the sum ≤ 2^40·len² — safe for any
    * chunk a sane modulus produces (an absolute-position weight would
    * overflow on ~500k-token documents). */
  private val CdcH40 = 1099511627776L

  /** Content-defined chunking: chunk boundaries fall where the rolling
    * window hash (the shared [[spanIndex]] span family's stride-1
    * hash) clears a modulus — so an insertion early in a document
    * shifts every byte but NOT the downstream chunk boundaries, which
    * re-synchronize at the next content-determined cut. That is the
    * property fixed-size chunking ([[chunkDupes]]) lacks and the
    * reason every modern dedup store (FastCDC et al.) cuts this way.
    * Per source: chunks, mean length, and the fraction of chunk
    * instances whose content signature repeats corpus-wide.
    *
    * Scale shape: the span index is ONE tokenize pass (shared,
    * persisted); boundary marking is a per-doc cumulative window
    * (skew = doc length); signatures are three order-free int64
    * aggregates (length, reduced-hash sum, shift-invariant weighted
    * sum) — no ordered collect anywhere; the dup probe is one
    * signature-keyed self-aggregate on the chunk grain. Determinism:
    * exact int64 everywhere, ratio doubles at the edge. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val sp = spanIndex(spark, dir, withNTokens = false)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val wChunk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("grp"))
    val chunks = sp
      .withColumn("b", when(col("s") % CdcMod === 0, 1L).otherwise(0L))
      .withColumn("grp", sum(col("b")).over(wDoc))
      // chunk-relative weights BEFORE the aggregate: absolute doc
      // positions would overflow the int64 weighted sum on very long
      // documents (see CdcH40); the window shares the groupBy's
      // (doc, grp) partitioning
      .withColumn("relpos", col("pos") - min(col("pos")).over(wChunk) + 1)
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"),
        sum(col("s") % CdcH40).as("sum_h"),
        sum((col("s") % CdcH40) * col("relpos")).as("sig_w"))
      .select(col("doc_id"), col("len"), col("sum_h"), col("sig_w"))
    val copies = chunks.groupBy(col("len"), col("sum_h"), col("sig_w"))
      .agg(count(lit(1)).as("n_copies"))
    Tables.released(
      chunks.join(copies, Seq("len", "sum_h", "sig_w"))
        .join(docs(spark, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          Tables.dsum(col("len")).as("sum_len"),
          Tables.countIf(col("n_copies") >= 2).as("n_dup_chunks"))
        .select(col("source"), col("n_chunks"),
          (col("sum_len") / col("n_chunks").cast(DoubleType)).as("avg_len"),
          col("n_dup_chunks"),
          Tables.ratio(col("n_dup_chunks"), col("n_chunks")).as("dup_frac"))
        .orderBy(col("source")),
      sp)
  }

  // lazy: spanIndexCtes interpolates SpanL, declared further down the
  // object — an eager val here would capture its pre-init 0
  lazy val cdcChunksSql: String =
    s"""WITH ${spanIndexCtes(withNTokens = false)},
       |marked AS (
       |  SELECT doc_id, pos, s,
       |         CAST(sum(CASE WHEN s % $CdcMod = 0 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS grp
       |  FROM sp),
       |rel AS (
       |  SELECT doc_id, grp, s,
       |         pos - min(pos) OVER (PARTITION BY doc_id, grp) + 1 AS relpos
       |  FROM marked),
       |chunks AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS len,
       |         CAST(sum(s % $CdcH40) AS BIGINT) AS sum_h,
       |         CAST(sum((s % $CdcH40) * relpos) AS BIGINT) AS sig_w
       |  FROM rel GROUP BY doc_id, grp),
       |copies AS (
       |  SELECT len, sum_h, sig_w, count(*) AS n_copies
       |  FROM chunks GROUP BY 1, 2, 3),
       |flagged AS (
       |  SELECT c.doc_id, c.len, p.n_copies
       |  FROM chunks c JOIN copies p USING (len, sum_h, sig_w))
       |SELECT d.source, count(*) AS n_chunks,
       |       CAST(sum(CAST(f.len AS DECIMAL(28,6))) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS avg_len,
       |       count(CASE WHEN f.n_copies >= 2 THEN 1 END) AS n_dup_chunks,
       |       CAST(count(CASE WHEN f.n_copies >= 2 THEN 1 END) AS DOUBLE)
       |         / nullif(CAST(count(*) AS DOUBLE), 0.0) AS dup_frac
       |FROM flagged f JOIN documents d USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------------
  // txt_winnowing: MOSS winnowing fingerprints + cross-doc matches
  // ---------------------------------------------------------------------

  /** Winnowing window: each run of [[WinnowW]] consecutive span
    * hashes contributes its (rightmost) minimum as a fingerprint.
    * Guarantee (Schleimer et al. 2003): any shared token run of
    * length ≥ WinnowW + SpanL − 1 shares ≥ 1 fingerprint, while the
    * fingerprint density stays ~2/(W+1) — bounded-density dedup with
    * a detection floor, which MinHash (whole-doc) and CDC (expected
    * chunk size) do not give. Interpolated into BOTH engines. */
  private val WinnowW = 8

  /** The selected fingerprints (doc_id, fp_pos, fp) — exposed for the
    * guarantee spec. Exact rightmost-min winnowing: per window, the
    * min hash, ties to the highest position. */
  private[graft] def winnowFingerprints(spark: SparkSession,
      dir: String): DataFrame = {
    val sp = spanIndex(spark, dir, withNTokens = true)
    // Sliding-window rightmost-min, ONE ordered window pass: each span
    // row IS window i = pos, its frame the next W span hashes;
    // min(struct(s, -pos)) picks the min hash with ties to the highest
    // position — exactly the old explode(W)+groupBy+self-join's
    // (min s, max pos | s = min) per window, without the W× row
    // multiplier, the (doc,i) exchange, or the join back (r18: the
    // exploded form was 3 exchanges over a W×-inflated span grain).
    // Only fully-inside windows count: i in [0, nspan-W], whose frames
    // are complete by construction (last row read = nspan-1).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        WinnowW - 1)
    Tables.released(
      sp.withColumn("nspan", col("n_tokens") - (SpanL - 1))
        .withColumn("best",
          min(struct(col("s"), (-col("pos")).as("negpos"))).over(w))
        .filter(col("pos") <= col("nspan") - WinnowW)
        .select(col("doc_id"), (-col("best.negpos")).as("fp_pos"),
          col("best.s").as("fp"))
        .distinct(), // adjacent windows often pick the same position
      sp)
  }

  /** Per-source winnowing profile: span positions, selected
    * fingerprints, the ~2/(W+1) density, and how many fingerprints
    * also occur in another document (corpus-wide match pressure).
    *
    * Scale shape: the span index is the shared one-tokenize pass; the
    * window explode is a fixed W× multiplier on that grain feeding
    * two map-side-combined aggregates keyed by (doc, window); the
    * cross-doc probe is one fingerprint-keyed aggregate on the
    * (already ~2/(W+1)-sparse) fingerprint grain. No per-doc sort,
    * no ordered collect. */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowFingerprints(spark, dir).persist()
    fps.count()
    val shared = fps.groupBy(col("fp"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
    val perDoc = fps.join(shared, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"),
        Tables.countIf(col("n_docs") >= 2).as("n_shared"))
    val spans = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        (size(tokens(col("text"))) - (SpanL - 1)).cast(LongType).as("nspan"))
      .filter(col("nspan") >= WinnowW)
    Tables.released(
      spans.join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nspan")).as("n_positions"),
          sum(coalesce(col("n_fps"), lit(0L))).as("n_fps"),
          sum(coalesce(col("n_shared"), lit(0L))).as("n_shared_fps"))
        .select(col("source"), col("n_docs"), col("n_positions"),
          col("n_fps"),
          Tables.ratio(col("n_fps"), col("n_positions")).as("density"),
          col("n_shared_fps"))
        .orderBy(col("source")),
      fps)
  }

  lazy val winnowingSql: String =
    s"""WITH ${spanIndexCtes(withNTokens = true)},
       |bounded AS (
       |  SELECT doc_id, pos - o AS i, pos, s
       |  FROM (SELECT doc_id, n_tokens - ${SpanL - 1} AS nspan, pos, s,
       |               unnest(generate_series(0, ${WinnowW - 1})) AS o
       |        FROM sp)
       |  WHERE pos - o >= 0 AND pos - o <= nspan - $WinnowW),
       |wmin AS (
       |  SELECT doc_id, i, min(s) AS m FROM bounded GROUP BY 1, 2),
       |sel AS (
       |  SELECT b.doc_id, max(b.pos) AS fp_pos, b.s AS fp
       |  FROM bounded b JOIN wmin w
       |    ON b.doc_id = w.doc_id AND b.i = w.i AND b.s = w.m
       |  GROUP BY b.doc_id, b.i, b.s),
       |fps AS (SELECT DISTINCT doc_id, fp_pos, fp FROM sel),
       |shared AS (
       |  SELECT fp, count(DISTINCT doc_id) AS n_docs FROM fps GROUP BY 1),
       |perdoc AS (
       |  SELECT f.doc_id, count(*) AS n_fps,
       |         count(CASE WHEN s.n_docs >= 2 THEN 1 END) AS n_shared
       |  FROM fps f JOIN shared s USING (fp)
       |  GROUP BY 1),
       |spans AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) - ${SpanL - 1} AS BIGINT)
       |           AS nspan
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) - ${SpanL - 1} >= $WinnowW)
       |SELECT sp2.source, count(*) AS n_docs,
       |       CAST(sum(sp2.nspan) AS BIGINT) AS n_positions,
       |       CAST(sum(COALESCE(p.n_fps, 0)) AS BIGINT) AS n_fps,
       |       CAST(sum(COALESCE(p.n_fps, 0)) AS DOUBLE)
       |         / nullif(CAST(sum(sp2.nspan) AS DOUBLE), 0.0) AS density,
       |       CAST(sum(COALESCE(p.n_shared, 0)) AS BIGINT) AS n_shared_fps
       |FROM spans sp2 LEFT JOIN perdoc p USING (doc_id)
       |GROUP BY sp2.source
       |ORDER BY sp2.source""".stripMargin

  // ---------------------------------------------------------------------
  // txt_dup_spans: substring-level (alignment-free) duplicate spans
  // ---------------------------------------------------------------------

  private val SpanL = 16

  /** Persisted stride-1 span index — one row per token position:
    * (doc_id[, n_tokens], pos, s) with s the h60 of the L-token window
    * starting at pos. ONE implementation feeds the whole span family
    * (detect / coverage / strip): a drifted copy would silently give
    * the three queries different notions of "span". */
  private def spanIndex(spark: SparkSession, dir: String,
      withNTokens: Boolean): DataFrame = {
    val L = SpanL
    val base = docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= L)
      // barrier: keep `toks` a materialized attribute or the window
      // generator re-splits the text once per span (chunkDupes note)
      .repartition(col("doc_id"))
    val windows = posexplode(
      transform(sequence(lit(0), size(col("toks")) - L),
        i => h60(concat_ws(" ", slice(col("toks"), i + lit(1), lit(L))))))
    val sp =
      if (withNTokens)
        base.select(col("doc_id"),
            size(col("toks")).cast(LongType).as("n_tokens"), windows)
          .toDF("doc_id", "n_tokens", "pos", "s")
          .select(col("doc_id"), col("n_tokens"),
            col("pos").cast(LongType).as("pos"), col("s"))
      else
        base.select(col("doc_id"), windows)
          .toDF("doc_id", "pos", "s")
          .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
            col("s"))
    sp.persist()
    sp.count()
    sp
  }

  /** Per-document interval-union sweep: appends `contrib` — the
    * positions a [pos, pos+L) window covers beyond every earlier
    * window of the same document. Summing contrib per doc gives the
    * exact union size without materializing position sets. */
  private def spanSweepContrib(occ: DataFrame): DataFrame = {
    val sweep = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    occ
      .withColumn("prev_end", max(col("pos") + SpanL).over(sweep))
      .withColumn("contrib",
        greatest(col("pos") + SpanL - greatest(col("pos"),
          coalesce(col("prev_end"), col("pos"))), lit(0L)))
  }

  /** The d/p/sp CTE prefix of the span family's SQL twins. */
  private def spanIndexCtes(withNTokens: Boolean): String = {
    val n = if (withNTokens) ", CAST(len(toks) AS BIGINT) AS n_tokens" else ""
    val nSel = if (withNTokens) ", n_tokens" else ""
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |p AS (
       |  SELECT doc_id, toks$n,
       |         unnest(generate_series(1, len(toks) - ${SpanL - 1})) AS i
       |  FROM d WHERE len(toks) >= $SpanL),
       |sp AS (
       |  SELECT doc_id$nSel, CAST(i - 1 AS BIGINT) AS pos,
       |         ${h60Sql(s"array_to_string(toks[i:i+${SpanL - 1}], ' ')")} AS s
       |  FROM p)""".stripMargin
  }

  /** The occ/cov sweep CTEs over occurrence source `src`. */
  private def spanSweepCtes(src: String): String =
    s"""occ AS (
       |  SELECT doc_id, n_tokens, pos,
       |         max(pos + $SpanL) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM $src),
       |cov AS (
       |  SELECT doc_id, n_tokens,
       |         greatest(pos + $SpanL - greatest(pos, COALESCE(prev_end, pos)), 0)
       |           AS contrib
       |  FROM occ)""".stripMargin

  /** Duplicated 16-token spans at ANY offset — the substring-level
    * dedup signal ("Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022): boilerplate, license headers, and
    * templated passages repeat across documents at arbitrary
    * alignments, so [[chunkDupes]]' fixed non-overlapping chunking
    * misses every occurrence that straddles a chunk boundary. A
    * stride-1 window hash is the fixed-length approximation of the
    * paper's suffix-array scan: every length-16 window of every
    * document is hashed, and a span is reported when it occurs in ≥2
    * distinct documents.
    *
    * Scale shape: the span index has exactly one row per token
    * position (same cardinality as the 3-shingle index that already
    * powers the dedup family — stride-1 does NOT multiply rows, only
    * the per-row hash cost is L tokens wide), one shuffle on the span
    * hash, top-50 capped output. The first-occurrence lookup joins the
    * span-grain table (small, post-HAVING) back to the index on
    * (span, first_doc) — never a second corpus pass. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val sp = spanIndex(spark, dir, withNTokens = false)
    val g = sp.groupBy(col("s"))
      .agg(
        count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2L)
    val fp = sp.join(g.select(col("s"), col("first_doc")), Seq("s"))
      .filter(col("doc_id") === col("first_doc"))
      .groupBy(col("s"))
      .agg(min(col("pos")).as("first_pos"))
    Tables.released(
      g.join(fp, Seq("s"))
        .select(col("s").as("span_key"), col("n_docs"), col("n_occ"),
          col("first_doc"), col("first_pos"))
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("span_key"))
        .limit(50),
      sp)
  }

  val dupSpansSql: String =
    s"""WITH ${spanIndexCtes(withNTokens = false)},
       |g AS (
       |  SELECT s, count(DISTINCT doc_id) AS n_docs,
       |         CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS first_doc
       |  FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |fp AS (
       |  SELECT sp.s, min(sp.pos) AS first_pos
       |  FROM sp JOIN g ON sp.s = g.s AND sp.doc_id = g.first_doc
       |  GROUP BY 1)
       |SELECT g.s AS span_key, g.n_docs, g.n_occ, g.first_doc, fp.first_pos
       |FROM g JOIN fp ON g.s = fp.s
       |ORDER BY n_docs DESC, n_occ DESC, span_key
       |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // txt_span_coverage: per-document duplicated-substring coverage
  // ---------------------------------------------------------------------

  /** Per-document fraction of token positions covered by some
    * cross-document duplicated 16-token span — the actionable form of
    * [[dupSpans]]: substring dedup does not drop whole documents, it
    * prunes (or strips) documents whose text is mostly shared
    * boilerplate, and THIS is the number that decision reads. Interval
    * union, not occurrence count: overlapping duplicated windows cover
    * a position once (a 17-token shared passage yields 2 windows but
    * 17 covered positions, not 32).
    *
    * Scale shape: the span index is one row per token position; the
    * duplicated-span set (post-HAVING, corpus-small) joins back on the
    * span hash, and the union length is an interval SWEEP over each
    * doc's dup occurrences — contribution = span end minus
    * max(previous end, span start), floored at 0 — one window over
    * the (doc, pos) grain, no per-position fan-out, no distinct
    * (strictly less work than the explode(16)+count_distinct
    * formulation it replaced). Per-position rows are unique per doc, so the sweep's
    * ordering is total and the window partition never outgrows its
    * document. Output is one row per document containing at least one
    * duplicated span.
    *
    * Deployment shape (whole span family — dupSpans/spanCoverage/
    * stripSpans): unlike BM25/ANN serving (per-query fan-out against
    * a persisted index — TextIndexLayout/AnnIndexLayout), substring
    * dedup runs ONCE per corpus build as a batch pipeline stage;
    * there is no query stream to amortize a persisted index for, so
    * computing the span index inside the pass is the right shape. */
  def spanCoverage(spark: SparkSession, dir: String): DataFrame = {
    val sp = spanIndex(spark, dir, withNTokens = true)
    val dup = sp.groupBy(col("s"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2L)
      .select(col("s"))
    Tables.released(
      spanSweepContrib(sp.join(dup, Seq("s")))
        .groupBy(col("doc_id"), col("n_tokens"))
        .agg(sum(col("contrib")).as("dup_positions"))
        .select(col("doc_id"), col("n_tokens"), col("dup_positions"),
          (col("dup_positions").cast(DoubleType) /
            col("n_tokens").cast(DoubleType)).as("coverage"))
        .orderBy(col("doc_id")),
      sp)
  }

  val spanCoverageSql: String =
    s"""WITH ${spanIndexCtes(withNTokens = true)},
       |dup AS (
       |  SELECT s FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (
       |  SELECT sp.doc_id, sp.n_tokens, sp.pos
       |  FROM sp JOIN dup ON sp.s = dup.s),
       |${spanSweepCtes("hits")}
       |SELECT doc_id, n_tokens,
       |       CAST(sum(contrib) AS BIGINT) AS dup_positions,
       |       CAST(sum(contrib) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |         AS coverage
       |FROM cov GROUP BY doc_id, n_tokens
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_strip_spans: substring dedup as an ACTION (keep-first, strip rest)
  // ---------------------------------------------------------------------

  /** The act half of substring dedup (Lee et al. 2022 strip their
    * duplicated spans from the corpus, they don't drop documents):
    * every 16-token span that occurs ≥2 times ANYWHERE (cross-doc or
    * within-doc boilerplate) keeps its globally-first occurrence —
    * min (doc_id, pos) — and every other occurrence is marked for
    * stripping; per document, the stripped token count is the
    * interval UNION of its marked windows (the spanCoverage sweep).
    * Semantics note: when a stripped window overlaps a KEPT keeper
    * occurrence in the same document, the shared positions count as
    * stripped — the "remove every duplicated substring occurrence"
    * convention, under which kept_tokens is exact; a cleaner that
    * instead protects keeper spans end-to-end would retain those
    * shared positions, for which this kept_tokens is a lower bound.
    *
    * Keeper selection is deliberately aggregate-shaped, NOT a
    * row_number window over the span groups: a corpus-wide
    * boilerplate span puts its whole occurrence list in one window
    * partition, while min-doc-then-min-pos is two map-side-combinable
    * aggregations that never materialize a span group — the skew-safe
    * form at corpus scale. */
  def stripSpans(spark: SparkSession, dir: String): DataFrame = {
    val sp = spanIndex(spark, dir, withNTokens = true)
    val k1 = sp.groupBy(col("s"))
      .agg(count(lit(1)).as("n_occ"), min(col("doc_id")).as("keep_doc"))
      .filter(col("n_occ") >= 2L)
    val k2 = sp.join(k1.select(col("s"), col("keep_doc")), Seq("s"))
      .filter(col("doc_id") === col("keep_doc"))
      .groupBy(col("s"))
      .agg(min(col("pos")).as("keep_pos"))
    val strip = sp
      .join(k1.select(col("s"), col("keep_doc")), Seq("s"))
      .join(k2, Seq("s"))
      .filter(!(col("doc_id") === col("keep_doc") &&
        col("pos") === col("keep_pos")))
      .select(col("doc_id"), col("n_tokens"), col("pos"))
    Tables.released(
      spanSweepContrib(strip)
        .groupBy(col("doc_id"), col("n_tokens"))
        .agg(sum(col("contrib")).as("stripped_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("stripped_tokens"),
          (col("n_tokens") - col("stripped_tokens")).as("kept_tokens"))
        .orderBy(col("doc_id")),
      sp)
  }

  val stripSpansSql: String =
    s"""WITH ${spanIndexCtes(withNTokens = true)},
       |k1 AS (
       |  SELECT s, CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS keep_doc
       |  FROM sp GROUP BY 1 HAVING count(*) >= 2),
       |k2 AS (
       |  SELECT sp.s, min(sp.pos) AS keep_pos
       |  FROM sp JOIN k1 ON sp.s = k1.s AND sp.doc_id = k1.keep_doc
       |  GROUP BY 1),
       |strip AS (
       |  SELECT sp.doc_id, sp.n_tokens, sp.pos
       |  FROM sp JOIN k1 ON sp.s = k1.s JOIN k2 ON sp.s = k2.s
       |  WHERE NOT (sp.doc_id = k1.keep_doc AND sp.pos = k2.keep_pos)),
       |${spanSweepCtes("strip")}
       |SELECT doc_id, n_tokens,
       |       CAST(sum(contrib) AS BIGINT) AS stripped_tokens,
       |       n_tokens - CAST(sum(contrib) AS BIGINT) AS kept_tokens
       |FROM cov GROUP BY doc_id, n_tokens
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_bigram_logprob: corpus-LM document scoring
  // ---------------------------------------------------------------------

  /** Per-document log-probability under the corpus's own bigram MLE
    * model — the KenLM-style fluency/quality signal of a training-data
    * pipeline (documents whose bigrams are rare under the corpus model
    * are gibberish, boilerplate, or out-of-domain). P(w2|w1) =
    * C(w1,w2) / C(w1,·), both counts from the same bigram table, so no
    * smoothing is needed: every document bigram exists in the corpus
    * counts by construction.
    *
    * Scale + determinism shape: one explode reduces to the
    * (doc, w1, w2) grain (persisted — it feeds both the corpus counts
    * and the scoring join, the tfidf discipline); corpus tables are
    * vocabulary-sized. The ONLY transcendental (ln) is quantized once
    * per corpus bigram (micro-units), after which every per-document
    * aggregate is exact int64 multiply-sum — order-free, map-side
    * combined, bit-identical cross-engine. */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(
            element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .persist()
    perDoc.count()
    val c2 = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val lm = c2.join(c1, "w1")
      .select(col("w1"), col("w2"),
        round(log(col("c2").cast(DoubleType) / col("c1").cast(DoubleType)) * 1e6)
          .cast(LongType).as("lp_micro"))
    Tables.released(
      perDoc.join(lm, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("lp_micro")).as("score_micro"))
        .select(col("doc_id"), col("n_bigrams"), col("score_micro"),
          (col("score_micro").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
            .as("avg_micro"))
        .orderBy(col("doc_id")),
      perDoc)
  }

  val bigramLogprobSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |pairs AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM (
      |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |    FROM d)),
      |perdoc AS (
      |  SELECT doc_id, w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2, 3),
      |c2 AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2 FROM perdoc GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      |lm AS (
      |  SELECT w1, w2,
      |         CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
      |  FROM c2 JOIN c1 USING (w1))
      |SELECT doc_id,
      |       CAST(sum(n) AS BIGINT) AS n_bigrams,
      |       CAST(sum(n * lp_micro) AS BIGINT) AS score_micro,
      |       CAST(sum(n * lp_micro) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS avg_micro
      |FROM perdoc JOIN lm USING (w1, w2)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_quality_lr: trained quality classifier (distributed GD)
  // ---------------------------------------------------------------------

  private val LrEta = 4.0
  private val LrRounds = 3

  /** Quality classifier TRAINED on the cluster — full-batch gradient
    * descent distilling [[qualityGate]]'s hard rule into a smooth
    * scored model (the fastText-style "train a tiny classifier on weak
    * labels" step of a real corpus pipeline; the smooth score ranks
    * borderline documents the rule can only keep/drop).
    *
    * Features x = (1, min(n_tokens/64, 1), type-token-ratio,
    * stopword-ratio); weak label y = the gate's keep verdict. Three GD
    * rounds w ← w − η·mean((s−y)·x) with the Elliott "fast sigmoid"
    * link s = ½(1 + z/(1+|z|)). The RATIONAL link is deliberate:
    * exp() is not bit-identical across engines (libm vs JVM), while
    * +,·,/,|·| are IEEE-exact — with per-row gradient contributions
    * quantized to nano-units and summed in int64 (order-free), the
    * trained weights are bit-identical on any cluster AND in the
    * DuckDB oracle, which unrolls all three rounds as CTEs. Swap the
    * true sigmoid at deployment if cross-engine hashing isn't a
    * constraint — the plan shape is identical.
    *
    * Scale: the feature grain is persisted once (one tokenize pass);
    * each round is ONE map-side-combined aggregate over it (gradient
    * sums + count) crossed with the 1-row broadcast weight frame —
    * never a collect (the emb_pca2 discipline); weights are
    * localCheckpointed per round so lineage stays flat. Output: top-20
    * scored docs with the trained micro-weights replicated, so the
    * WEIGHTS are oracle-checked too. */
  /** Feature + weak-label grain for the quality classifier. */
  private[graft] def lrFeatures(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .repartition(col("doc_id")) // projection barrier, as in stats()
      .transform(lrFeatureExprs)

  /** [[lrFeatures]] without the repartition barrier — for streaming
    * frames (no shuffle per micro-batch) where the single projection
    * is evaluated once anyway. */
  private[graft] def lrFeaturesNoShuffle(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .transform(lrFeatureExprs)

  private def lrFeatureExprs(withToks: DataFrame): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast(LongType)
    val nUniq = size(array_distinct(toks)).cast(LongType)
    val nStop = stopwordCount(toks)
    val ttr = nUniq.cast(DoubleType) / nTok.cast(DoubleType)
    val stopR = nStop.cast(DoubleType) / nTok.cast(DoubleType)
    withToks.select(col("doc_id"),
      least(nTok.cast(DoubleType) / lit(64.0), lit(1.0)).as("x1"),
      ttr.as("x2"), stopR.as("x3"),
      when(nTok >= 24 && ttr >= 0.34 && stopR <= 0.16, lit(1.0))
        .otherwise(lit(0.0)).as("y"))
  }

  // fixed parenthesization — must match the oracle byte-for-byte
  private def lrZ: Column =
    col("b0") + col("b1") * col("x1") + col("b2") * col("x2") +
      col("b3") * col("x3")
  private[graft] def lrS: Column =
    lit(0.5) * (lit(1.0) + lrZ / (lit(1.0) + abs(lrZ)))

  /** Full-batch GD over a (persisted) feature grain; returns the
    * 1-row trained weight frame (b0..b3). */
  private[graft] def lrTrain(spark: SparkSession, feat: DataFrame): DataFrame = {
    var w = spark.range(1).select(
      lit(0.0).as("b0"), lit(0.0).as("b1"),
      lit(0.0).as("b2"), lit(0.0).as("b3"))
    for (_ <- 1 to LrRounds) {
      val e = lrS - col("y")
      val g = feat.crossJoin(broadcast(w)).agg(
        sum(round(e * lit(1e9)).cast(LongType)).as("g0"),
        sum(round(e * col("x1") * lit(1e9)).cast(LongType)).as("g1"),
        sum(round(e * col("x2") * lit(1e9)).cast(LongType)).as("g2"),
        sum(round(e * col("x3") * lit(1e9)).cast(LongType)).as("g3"),
        count(lit(1)).as("n"))
      def upd(b: String, gc: String): Column =
        (col(b) - lit(LrEta) * (col(gc).cast(DoubleType) / lit(1e9)) /
          col("n").cast(DoubleType)).as(b)
      w = g.crossJoin(broadcast(w))
        .select(upd("b0", "g0"), upd("b1", "g1"), upd("b2", "g2"),
          upd("b3", "g3"))
        .localCheckpoint(true)
    }
    w
  }

  /** Score a feature grain under a 1-row weight frame — shared by the
    * registered query and the persisted-artifact serving paths
    * (sources.LrArtifact), so served scores are byte-equal to the
    * query's by construction. */
  private[graft] def lrScore(feat: DataFrame, w: DataFrame): DataFrame =
    lrScore(feat.crossJoin(broadcast(w)))

  /** Scoring tail over a frame that already carries b0..b3 columns
    * (1-row broadcast or inlined literals — the streaming path). */
  private[graft] def lrScore(featWithW: DataFrame): DataFrame =
    featWithW
      .select(col("doc_id"), col("y").cast(LongType).as("label"),
        round(lrS * lit(1e6)).cast(LongType).as("lr_micro"),
        round(col("b0") * lit(1e6)).cast(LongType).as("b0_micro"),
        round(col("b1") * lit(1e6)).cast(LongType).as("b1_micro"),
        round(col("b2") * lit(1e6)).cast(LongType).as("b2_micro"),
        round(col("b3") * lit(1e6)).cast(LongType).as("b3_micro"))

  def qualityLr(spark: SparkSession, dir: String): DataFrame = {
    val feat = lrFeatures(docs(spark, dir)).persist()
    feat.count()
    val w = lrTrain(spark, feat)
    Tables.released(
      lrScore(feat, w)
        .orderBy(col("lr_micro").desc, col("doc_id"))
        .limit(20),
      feat)
  }

  val qualityLrSql: String = {
    val featSql =
      s"""SELECT doc_id,
         |       least(CAST(n_tokens AS DOUBLE)/64.0, 1.0) AS x1,
         |       CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS x2,
         |       CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS x3,
         |       CASE WHEN n_tokens >= 24
         |                 AND CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) >= 0.34
         |                 AND CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) <= 0.16
         |            THEN 1.0 ELSE 0.0 END AS y
         |FROM (SELECT doc_id,
         |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |             CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq,
         |             ${stopwordCountSql("string_split(text,' ')")} AS n_stop
         |      FROM documents)""".stripMargin
    def zSql(wt: String) =
      s"($wt.b0 + $wt.b1*x1 + $wt.b2*x2 + $wt.b3*x3)"
    def sSql(wt: String) =
      s"0.5*(1.0 + ${zSql(wt)}/(1.0 + abs(${zSql(wt)})))"
    def gSql(prev: String) =
      s"""SELECT CAST(sum(round((${sSql(prev)} - y)*1e9)) AS BIGINT) AS g0,
         |       CAST(sum(round((${sSql(prev)} - y)*x1*1e9)) AS BIGINT) AS g1,
         |       CAST(sum(round((${sSql(prev)} - y)*x2*1e9)) AS BIGINT) AS g2,
         |       CAST(sum(round((${sSql(prev)} - y)*x3*1e9)) AS BIGINT) AS g3,
         |       count(*) AS n
         |FROM feat, $prev""".stripMargin
    def wSql(prev: String, g: String) =
      s"""SELECT $prev.b0 - $LrEta*(CAST($g.g0 AS DOUBLE)/1e9)/CAST($g.n AS DOUBLE) AS b0,
         |       $prev.b1 - $LrEta*(CAST($g.g1 AS DOUBLE)/1e9)/CAST($g.n AS DOUBLE) AS b1,
         |       $prev.b2 - $LrEta*(CAST($g.g2 AS DOUBLE)/1e9)/CAST($g.n AS DOUBLE) AS b2,
         |       $prev.b3 - $LrEta*(CAST($g.g3 AS DOUBLE)/1e9)/CAST($g.n AS DOUBLE) AS b3
         |FROM $g, $prev""".stripMargin
    s"""WITH feat AS ($featSql),
       |wt0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3),
       |gr1 AS (${gSql("wt0")}),
       |wt1 AS (${wSql("wt0", "gr1")}),
       |gr2 AS (${gSql("wt1")}),
       |wt2 AS (${wSql("wt1", "gr2")}),
       |gr3 AS (${gSql("wt2")}),
       |wt3 AS (${wSql("wt2", "gr3")})
       |SELECT doc_id, CAST(y AS BIGINT) AS label,
       |       CAST(round(${sSql("wt3")}*1e6) AS BIGINT) AS lr_micro,
       |       CAST(round(wt3.b0*1e6) AS BIGINT) AS b0_micro,
       |       CAST(round(wt3.b1*1e6) AS BIGINT) AS b1_micro,
       |       CAST(round(wt3.b2*1e6) AS BIGINT) AS b2_micro,
       |       CAST(round(wt3.b3*1e6) AS BIGINT) AS b3_micro
       |FROM feat, wt3
       |ORDER BY lr_micro DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------------
  // txt_kneser_ney: interpolated Kneser-Ney document scoring
  // ---------------------------------------------------------------------

  /** Fixed absolute discount (Chen & Goodman's standard choice). */
  private val KnDiscount = 0.75

  /** Per-document fluency score under an interpolated Kneser-Ney
    * bigram model estimated from the corpus itself — the smoothing
    * actually used by KenLM-style filter models, upgrading
    * [[bigramLogprob]]'s raw MLE:
    *
    *   P_KN(w2|w1) = (c(w1,w2) − D)/c(w1)
    *               + D·N1+(w1,·)/c(w1) · N1+(·,w2)/B
    *
    * where N1+(w1,·)/N1+(·,w2) are distinct continuation counts and B
    * is the number of distinct bigram types. Unlike MLE, KN discounts
    * frequent bigrams and backs off to how PROMISCUOUS a word's
    * contexts are, not how frequent the word is — "of the" scores high
    * under MLE but its continuation mass is low, which is exactly the
    * boilerplate signal a corpus filter wants.
    *
    * Scale + determinism (the bigramLogprob discipline): one explode
    * to the (doc, w1, w2) grain, persisted — it feeds the corpus
    * counts AND the scoring join; all model tables are vocabulary²-
    * bounded; B is a 1-row broadcast scalar. The only transcendental
    * (ln) is quantized once per corpus bigram, after which per-doc
    * aggregates are exact int64 multiply-sums. The double arithmetic
    * inside the ln is a fixed parenthesization of IEEE +,*,/ on
    * integer-valued inputs — bit-identical cross-engine. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(
            element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .persist()
    perDoc.count()
    val c2 = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c2"))
      .persist() // feeds c1, both continuation tables, B, and the lm join
    val c1 = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val btypes = c2.agg(count(lit(1)).as("b")) // 1-row scalar
    val d = lit(KnDiscount)
    val pkn =
      (col("c2").cast(DoubleType) - d) / col("c1").cast(DoubleType) +
        (d * col("n1f").cast(DoubleType) / col("c1").cast(DoubleType)) *
          (col("n1p").cast(DoubleType) / col("b").cast(DoubleType))
    val lm = c2.join(c1, "w1").join(cont, "w2")
      .crossJoin(broadcast(btypes))
      .select(col("w1"), col("w2"),
        round(log(pkn) * 1e6).cast(LongType).as("kn_micro"))
    Tables.released(
      perDoc.join(lm, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("kn_micro")).as("kn_score_micro"))
        .select(col("doc_id"), col("n_bigrams"), col("kn_score_micro"),
          (col("kn_score_micro").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
            .as("kn_avg_micro"))
        .orderBy(col("doc_id")),
      perDoc, c2)
  }

  val kneserNeySql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |pairs AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM (
       |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |    FROM d)),
       |perdoc AS (
       |  SELECT doc_id, w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2, 3),
       |c2 AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2 FROM perdoc GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
       |              CAST(count(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM c2 GROUP BY 1),
       |btypes AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c2),
       |lm AS (
       |  SELECT w1, w2,
       |         CAST(round(ln(
       |           (CAST(c2 AS DOUBLE) - $KnDiscount) / CAST(c1 AS DOUBLE)
       |           + ($KnDiscount * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE))
       |             * (CAST(n1p AS DOUBLE) / CAST(b AS DOUBLE))
       |         ) * 1e6) AS BIGINT) AS kn_micro
       |  FROM c2 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN btypes)
       |SELECT doc_id,
       |       CAST(sum(n) AS BIGINT) AS n_bigrams,
       |       CAST(sum(n * kn_micro) AS BIGINT) AS kn_score_micro,
       |       CAST(sum(n * kn_micro) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS kn_avg_micro
       |FROM perdoc JOIN lm USING (w1, w2)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // txt_quality_gate: multi-signal keep/drop gate with reason attribution
  // ---------------------------------------------------------------------

  /** The C4/Gopher-style corpus gate as one composite: every document
    * is scored on three signals from ONE tokenized pass (length,
    * type-token ratio, stopword density) and dropped with its FIRST
    * failing reason — short before low_ttr before stoppy — so the
    * per-source attribution columns partition the corpus exactly
    * (asserted in spec). Thresholds (24 tokens / 0.34 TTR / 0.16 stop
    * ratio) are corpus-calibrated so every bucket is exercised at all
    * test SFs.
    *
    * Scale shape: signal extraction is map-only on the documents scan
    * (the `toks` attribute + repartition barrier prevents per-signal
    * re-tokenization, as in [[stats]]); the rollup is one shuffle on
    * source with all conditional counts map-side combined. At 100 TB
    * this is a single pass + a |sources|-row result. */
  // ---------------------------------------------------------------------
  // txt_blocklist_scrub: wordlist masking + drop policy (C4 badwords shape)
  // ---------------------------------------------------------------------

  /** The scrub wordlist — a stand-in for a deployment's sensitive-term
    * or badword list (C4 dropped any page containing a listed word;
    * RefinedWeb and Dolma mask or drop by RATIO, which is the policy
    * here). Interpolated into BOTH engines. */
  private val Blocklist = Seq("customer", "vector", "spark")

  /** Fraction of blocked tokens above which the document is dropped
    * rather than masked. Interpolated into BOTH engines. */
  private val BlockDropFrac = 0.10

  /** Wordlist scrubbing as a CURATION stage with attrition-style
    * accounting: every document counts its [[Blocklist]] occurrences
    * in the same single tokenize pass as its length; documents whose
    * blocked fraction exceeds [[BlockDropFrac]] are DROPPED (a page
    * that is mostly sensitive terms is not salvageable by masking),
    * the rest are MASKED (occurrences replaced, document kept). The
    * per-source rollup reports both actions and the surviving token
    * mass, masked occurrences excluded — the numbers a pipeline
    * operator reads to judge whether the list is eating the corpus.
    *
    * Scale shape: one tokenize pass, no explode — the blocked count
    * is a higher-order filter over the token array (codegen'd, no
    * shuffle before the |sources|-keyed rollup). Exact-token match,
    * not regex: bit-identical across engines and immune to
    * regex-dialect drift. */
  def blocklistScrub(spark: SparkSession, dir: String): DataFrame = {
    val inList = Blocklist.map(w => s"'$w'").mkString(", ")
    val d = docs(spark, dir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        expr(s"size(filter(toks, x -> x IN ($inList)))")
          .cast(LongType).as("n_blocked"))
      .withColumn("dropped",
        col("n_blocked").cast(DoubleType) / col("n_tokens").cast(DoubleType)
          > BlockDropFrac)
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        Tables.countIf(col("n_blocked") > 0L).as("n_docs_hit"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_blocked")).as("n_blocked"),
        Tables.countIf(col("dropped")).as("n_dropped"),
        Tables.countIf(!col("dropped")).as("n_kept"),
        coalesce(sum(when(!col("dropped"),
          col("n_tokens") - col("n_blocked"))), lit(0L))
          .as("kept_tokens_after_mask"))
      .orderBy(col("source"))
  }

  val blocklistScrubSql: String = {
    val inList = Blocklist.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (
       |  SELECT source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(string_split(text, ' '),
       |           x -> x IN ($inList))) AS BIGINT) AS n_blocked
       |  FROM documents),
       |flagged AS (
       |  SELECT *, CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |           > $BlockDropFrac AS dropped
       |  FROM d)
       |SELECT source,
       |       count(*) AS n_docs,
       |       count(CASE WHEN n_blocked > 0 THEN 1 END) AS n_docs_hit,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(n_blocked) AS BIGINT) AS n_blocked,
       |       count(CASE WHEN dropped THEN 1 END) AS n_dropped,
       |       count(CASE WHEN NOT dropped THEN 1 END) AS n_kept,
       |       COALESCE(CAST(sum(CASE WHEN NOT dropped
       |                 THEN n_tokens - n_blocked END) AS BIGINT), 0)
       |         AS kept_tokens_after_mask
       |FROM flagged
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // txt_novelty: per-source novel-content share in arrival order
  // ---------------------------------------------------------------------

  /** How much NEW content each source contributes, in arrival
    * (doc_id) order: a shingle is novel iff this document is its
    * first occurrence in the corpus; the per-source novel share is
    * the number every data-scaling discussion leans on (recycled
    * shingle mass is what dedup removes and what repeated-data
    * scaling laws discount). Low novelty_bp = the source mostly
    * re-says what earlier documents already said — the first source
    * to drop when the token budget binds.
    *
    * Scale shape: one shingle pass to the (doc, s) grain, one
    * s-keyed groupBy for first occurrences (the standard inverted-
    * index build), one linear join back, one |sources| rollup —
    * nothing pairwise anywhere. novelty_bp is exact int64. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.shingleHashesOfToks
    val sh = docs(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .repartition(col("doc_id")) // projection barrier: keep `toks` an
                                  // attribute so the shingle lambda
                                  // doesn't re-tokenize per element
      .select(col("doc_id"), col("source"),
        explode(shingleHashesOfToks(col("toks"), 3)).as("s"))
      .persist() // feeds the first-occurrence index and the join back
    val firstOcc = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    Tables.released(
      sh.join(firstOcc, "s")
        .select(col("source"),
          (col("doc_id") === col("first_doc")).cast(LongType).as("novel"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_postings"),
          sum(col("novel")).as("n_novel"))
        .select(col("source"), col("n_postings"), col("n_novel"),
          floor(col("n_novel") * lit(10000L) / col("n_postings"))
            .cast(LongType).as("novelty_bp"))
        .orderBy(col("source")),
      sh)
  }

  val noveltySql: String = {
    import graft.functions.TextFunctions.shingleHashesSql
    s"""WITH sh AS (
       |  SELECT doc_id, source, unnest(${shingleHashesSql(3)}) AS s
       |  FROM documents),
       |first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1),
       |j AS (
       |  SELECT sh.source,
       |         CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
       |  FROM sh JOIN first f ON sh.s = f.s)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_postings,
       |       CAST(sum(novel) AS BIGINT) AS n_novel,
       |       CAST(floor(sum(novel) * 10000 / count(*)) AS BIGINT) AS novelty_bp
       |FROM j GROUP BY 1
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // txt_pii_scrub: regex PII detection + mask accounting
  // ---------------------------------------------------------------------

  /** PII pattern classes, one (class, regex) each — the conservative
    * common subset of Java regex and RE2 (char classes, bounded
    * repetition, `\b`; no lookaround, no backrefs) so BOTH engines
    * compile them identically. Interpolated into BOTH engines.
    * Cross-engine parity is additionally checked on a PLANTED fixture
    * dir through the same Verify/compare harness (the shipped corpus
    * contains no PII, so the production oracle row only proves the
    * all-zero case). */
  private val PiiPatterns: Seq[(String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b"),
    ("digit_run", "\\b\\d{13,19}\\b"))

  /** The PII pass every released corpus goes through (the C4/Dolma
    * mask step): count regex hits per class per document in ONE scan,
    * roll up per (source, class) — occurrences, documents hit, and the
    * masked character mass (what `regexp_replace` with a fixed token
    * would delete) so the operator prices the scrub before running it.
    * Long-form output: one row per (source, class), the shape a
    * compliance dashboard reads.
    *
    * Scale shape: all four class counts compute inside the single
    * scan projection (codegen'd regexp over the text column, no
    * explode of matches); the only shuffle is the |sources|×|classes|
    * rollup after a bounded 4-way class unpivot of per-doc counters.
    * Masked mass is exact: sum of match lengths, no replace
    * materialized. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(spark, dir).select(
      Seq(col("source")) ++ PiiPatterns.flatMap { case (cls, pat) =>
        val hits = regexp_extract_all(col("text"), lit(pat), lit(0))
        Seq(size(hits).cast(LongType).as(s"n_$cls"),
          coalesce(aggregate(transform(hits, m => length(m).cast(LongType)),
            lit(0L), (acc, x) => acc + x), lit(0L)).as(s"chars_$cls"))
      }: _*)
    val unpivoted = perDoc.select(col("source"),
      explode(array(PiiPatterns.map { case (cls, _) =>
        struct(lit(cls).as("pii_class"), col(s"n_$cls").as("n"),
          col(s"chars_$cls").as("chars"))
      }: _*)).as("p"))
      .select(col("source"), col("p.pii_class"), col("p.n"), col("p.chars"))
    unpivoted.groupBy(col("source"), col("pii_class"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_hits"),
        Tables.countIf(col("n") > 0L).as("n_docs_hit"),
        sum(col("chars")).as("masked_chars"))
      .orderBy(col("source"), col("pii_class"))
  }

  val piiScrubSql: String = {
    val perClass = PiiPatterns.map { case (cls, pat) =>
      s"""SELECT source, '$cls' AS pii_class,
         |       CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n,
         |       CAST(COALESCE(list_sum(list_transform(
         |         regexp_extract_all(text, '$pat'), m -> len(m))), 0) AS BIGINT)
         |         AS chars
         |FROM documents""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH per_doc AS (
       |  $perClass)
       |SELECT source, pii_class,
       |       count(*) AS n_docs,
       |       CAST(sum(n) AS BIGINT) AS n_hits,
       |       count(CASE WHEN n > 0 THEN 1 END) AS n_docs_hit,
       |       CAST(sum(chars) AS BIGINT) AS masked_chars
       |FROM per_doc
       |GROUP BY 1, 2
       |ORDER BY source, pii_class""".stripMargin
  }

  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast(LongType)
    val nUniq = size(array_distinct(toks)).cast(LongType)
    val nStop = stopwordCount(toks)
    val ttr = nUniq.cast(DoubleType) / nTok.cast(DoubleType)
    val stopR = nStop.cast(DoubleType) / nTok.cast(DoubleType)
    val verdict = when(nTok < 24, "short")
      .when(ttr < 0.34, "low_ttr")
      .when(stopR > 0.16, "stoppy")
      .otherwise("keep")
    docs(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .repartition(col("doc_id")) // projection barrier, as in stats()
      .select(col("source"), verdict.as("verdict"), nTok.as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        Tables.countIf(col("verdict") === "short").as("n_short"),
        Tables.countIf(col("verdict") === "low_ttr").as("n_low_ttr"),
        Tables.countIf(col("verdict") === "stoppy").as("n_stoppy"),
        Tables.countIf(col("verdict") === "keep").as("n_kept"),
        coalesce(sum(when(col("verdict") === "keep", col("n_tokens"))),
          lit(0L)).as("kept_tokens"))
      .orderBy(col("source"))
  }

  val qualityGateSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq,
       |         ${stopwordCountSql("string_split(text,' ')")} AS n_stop
       |  FROM documents),
       |g AS (
       |  SELECT source, n_tokens,
       |         CASE WHEN n_tokens < 24 THEN 'short'
       |              WHEN CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.34 THEN 'low_ttr'
       |              WHEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.16 THEN 'stoppy'
       |              ELSE 'keep' END AS verdict
       |  FROM t)
       |SELECT source, count(*) AS n_docs,
       |       count(CASE WHEN verdict = 'short' THEN 1 END) AS n_short,
       |       count(CASE WHEN verdict = 'low_ttr' THEN 1 END) AS n_low_ttr,
       |       count(CASE WHEN verdict = 'stoppy' THEN 1 END) AS n_stoppy,
       |       count(CASE WHEN verdict = 'keep' THEN 1 END) AS n_kept,
       |       CAST(COALESCE(sum(CASE WHEN verdict = 'keep' THEN n_tokens END), 0) AS BIGINT) AS kept_tokens
       |FROM g
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // txt_heavy_hitters: Misra-Gries candidates + exact verify
  // ---------------------------------------------------------------------

  /** MG capacity: guarantees every token above a 1/(HhCap+1) = 1/30
    * frequency share survives the bounded-state candidate pass. */
  private[graft] val HhCap = 29

  /** Exact frequent tokens (count > N/(HhCap+1)) via a two-pass
    * Misra-Gries pipeline: pass 1 runs [[graft.functions.MisraGriesAgg]]
    * — O(HhCap) state per task, zero false negatives, and NO shuffle of
    * the token domain (the only exchange is HhCap-bounded partial
    * buffers into a 1-row agg); pass 2 re-counts ONLY candidate tokens
    * exactly (a broadcast semi-join cuts the group-by shuffle to
    * candidate rows) and applies the threshold, which also discards
    * MG's false positives. Output is therefore EXACT — the sketch only
    * chooses which rows are worth shuffling.
    *
    * Scale (100 TB): a full `GROUP BY token` shuffles the entire token
    * domain; this shape shuffles ≤ HhCap distinct keys' rows. The price
    * is a second corpus scan — the canonical candidate/verify trade
    * every production heavy-hitter job makes (same two-pass discipline
    * as dedup_minhash_pairs' candidate+verify).
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
    val mg = udaf(MisraGriesAgg(HhCap), org.apache.spark.sql.Encoders.STRING)
    // the total count rides the candidate pass (same aggregate), so
    // the query is exactly its documented two scans: one bounded-state
    // MG pass, one candidate-row recount
    val pass1 = tok.agg(mg(col("token")).as("cands"),
      count(lit(1)).as("n_total"))
    val cands = pass1.select(explode(col("cands")).as("token"))
    val total = pass1.select(col("n_total")) // 1-row scalar
    tok.join(broadcast(cands), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * lit(HhCap + 1L) > col("n_total"))
      .select(col("token"), col("n"))
      .orderBy(col("n").desc, col("token"))
  }

  val heavyHittersSql: String =
    s"""WITH tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
       |     tot AS (SELECT count(*) AS n_total FROM tok),
       |     cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
       |SELECT token, n FROM cnt, tot
       |WHERE n * ${HhCap + 1} > n_total
       |ORDER BY n DESC, token""".stripMargin

  // ---------------------------------------------------------------------
  // txt_budget_select: quality-ranked selection under a token budget
  // ---------------------------------------------------------------------

  /** Budget as a share of total corpus tokens (bp) — interpolated into
    * BOTH engines. */
  private val BudgetShareBp = 2500L

  /** Data-constrained selection: keep the best-quality docs until the
    * token budget (25% of the corpus) is spent — the pass a
    * token-budgeted training run makes over an over-collected corpus.
    * Ranking is (quality desc, doc_id); a doc is kept iff the
    * cumulative token count through it (prefix cut) fits the budget.
    *
    * Scale shape: NO corpus-wide ordered window (the classic
    * single-partition bottleneck). Quality is quantized to micro
    * resolution and the cumulative splits two-level: per-bucket token
    * totals (bounded grain: ≤1e6+1 buckets, map-side combined), a
    * windowed running offset over THAT bounded grain, then a
    * doc_id-ordered window PARTITIONED BY BUCKET for the within-bucket
    * remainder — the same partial+offset decomposition a 100 TB
    * prefix-sum uses. Quantization defines the tie groups (equal
    * micro-scores order by doc_id); both engines share it. Output is
    * the per-source attrition rollup. */
  def budgetSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = size(col("toks")).cast(LongType)
    // the scored grain feeds THREE consumers (budget scalar, bucket
    // offsets, the ranked join) — one tokenize+score pass, cached,
    // released with the result
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"),
        round(qualityScore(nTok, size(array_distinct(col("toks"))).cast(LongType),
          stopwordCount(col("toks"))) * 1e6).cast(LongType).as("qmicro"))
      .persist()
    perDoc.count()
    val budget = perDoc.agg(
      floor(sum(col("n_tokens")) * BudgetShareBp / lit(10000L))
        .cast(LongType).as("budget"))
    val wBuckets = Window.orderBy(col("qmicro").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = perDoc.groupBy(col("qmicro"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("cum_before_bucket",
        coalesce(sum(col("bucket_tokens")).over(wBuckets), lit(0L)))
      .select(col("qmicro"), col("cum_before_bucket"))
    val wInBucket = Window.partitionBy(col("qmicro")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = perDoc
      .join(bucketOffsets, "qmicro") // bounded grain -> broadcasts
      .withColumn("cum_tokens",
        col("cum_before_bucket") + sum(col("n_tokens")).over(wInBucket))
      .crossJoin(broadcast(budget))
      .withColumn("kept", col("cum_tokens") <= col("budget"))
    Tables.released(
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          Tables.countIf(col("kept")).as("n_kept"),
          sum(col("n_tokens")).as("tokens_total"),
          coalesce(sum(when(col("kept"), col("n_tokens"))), lit(0L))
            .as("tokens_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("tokens_total"), col("tokens_kept"),
          floor(col("n_kept") * lit(10000L) / col("n_docs"))
            .cast(LongType).as("kept_share_bp"))
        .orderBy(col("source")),
      perDoc)
  }

  val budgetSelectSql: String = {
    val nTokSql = "CAST(len(string_split(text,' ')) AS BIGINT)"
    val qSql = qualityScoreSql(nTokSql,
      "CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)",
      stopwordCountSql("string_split(text,' ')"))
    s"""WITH per_doc AS (
       |  SELECT doc_id, source, $nTokSql AS n_tokens,
       |         CAST(round(($qSql) * 1e6) AS BIGINT) AS qmicro
       |  FROM documents),
       |b AS (
       |  SELECT CAST(floor(sum(n_tokens) * $BudgetShareBp / 10000) AS BIGINT)
       |    AS budget FROM per_doc),
       |buckets AS (
       |  SELECT qmicro,
       |         COALESCE(CAST(sum(CAST(sum(n_tokens) AS BIGINT)) OVER (
       |           ORDER BY qmicro DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS BIGINT), 0) AS cum_before_bucket
       |  FROM per_doc GROUP BY qmicro),
       |ranked AS (
       |  SELECT d.source, d.n_tokens,
       |         bk.cum_before_bucket + CAST(sum(d.n_tokens) OVER (
       |           PARTITION BY d.qmicro ORDER BY d.doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) <= (SELECT budget FROM b) AS kept
       |  FROM per_doc d JOIN buckets bk USING (qmicro))
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(COALESCE(count(CASE WHEN kept THEN 1 END), 0) AS BIGINT)
       |         AS n_kept,
       |       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       |       CAST(COALESCE(sum(CASE WHEN kept THEN n_tokens END), 0)
       |         AS BIGINT) AS tokens_kept,
       |       CAST(floor(COALESCE(count(CASE WHEN kept THEN 1 END), 0)
       |         * 10000 / count(*)) AS BIGINT) AS kept_share_bp
       |FROM ranked
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  val all: Seq[(String, ((SparkSession, String) => DataFrame), String)] = Seq(
    ("txt_budget_select", budgetSelect _, budgetSelectSql),
    ("txt_stats", stats _, statsSql),
    ("txt_tfidf", tfidf _, tfidfSql),
    ("txt_langid", langId _, langIdSql),
    ("txt_token_hist", tokenHist _, tokenHistSql),
    ("txt_fingerprint", fingerprint _, fingerprintSql),
    ("txt_bpe_tokens", bpeTokens _, bpeTokensSql),
    ("txt_bpe_merges", bpeMerges _, bpeMergesSql),
    ("txt_bm25_topk", bm25TopK _, bm25TopKSql),
    ("txt_hybrid_rrf", hybridRrf _, hybridRrfSql),
    ("txt_bpe_encode", bpeEncode _, bpeEncodeSql),
    ("txt_quantiles", lenQuantiles _, lenQuantilesSql),
    // sketch estimates aren't cross-engine reproducible -> no oracle
    // (driver records rows-only); error bounded vs exact in ExtensionOpsSpec
    ("txt_quantiles_approx", lenQuantilesApprox _, null),
    ("txt_stopword_filter", stopwordFilter _, stopwordFilterSql),
    ("txt_entropy", entropy _, entropySql),
    ("txt_repetition", repetition _, repetitionSql),
    ("txt_length_deciles", lengthDeciles _, lengthDecilesSql),
    ("txt_pack_sequences", packSequences _, packSequencesSql),
    ("txt_chunk_dupes", chunkDupes _, chunkDupesSql),
    ("txt_dup_spans", dupSpans _, dupSpansSql),
    ("txt_cdc_chunks", cdcChunks _, cdcChunksSql),
    ("txt_winnowing", winnowing _, winnowingSql),
    ("txt_dataset_card", datasetCard _, datasetCardSql),
    ("txt_zipf_fit", zipfFit _, zipfFitSql),
    ("txt_span_coverage", spanCoverage _, spanCoverageSql),
    ("txt_strip_spans", stripSpans _, stripSpansSql),
    ("txt_bigram_logprob", bigramLogprob _, bigramLogprobSql),
    ("txt_heavy_hitters", heavyHitters _, heavyHittersSql),
    ("txt_kneser_ney", kneserNey _, kneserNeySql),
    ("txt_quality_lr", qualityLr _, qualityLrSql),
    ("txt_quality_gate", qualityGate _, qualityGateSql),
    ("txt_blocklist_scrub", blocklistScrub _, blocklistScrubSql),
    ("txt_pii_scrub", piiScrub _, piiScrubSql),
    ("txt_novelty", novelty _, noveltySql))
}
