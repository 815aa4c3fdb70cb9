package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All are
  * pure column expressions (whole-stage codegen, no UDFs) so they run at
  * scan speed over 100 TB of documents.
  */
object TextStats {

  /** Whitespace tokenizer — single-space word split (the corpus contract). */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: alphanumeric runs count as one piece
    * each, every other non-space character as its own piece (a cheap,
    * deterministic proxy for a real tokenizer's token count). The
    * SEMANTICS are this RE2-safe pattern (the oracle replays it with
    * `regexp_extract_all`); the EXECUTION is the codegen `subword_count`
    * byte-walk (org.apache.spark.sql.graft.SubwordCount) — the regex NFA
    * made the strictly data-linear q46 the suite's slowest 16× query, a
    * per-codepoint branch runs it at scan speed. Spec-pinned equal to
    * the regex formulation (OperatorsSpec). */
  val SubwordPattern = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"
  def subwordCount(text: Column): Column =
    call_function("subword_count", text)

  /** Lexical diversity (distinct tokens / tokens) from a token array. */
  def lexicalDiversityW(t: Column): Column =
    size(array_distinct(t)).cast("double") / size(t)

  /** Mean token length in characters from a token array. */
  def meanTokenLengthW(t: Column): Column =
    aggregate(transform(t, w => length(w).cast("long")), lit(0L), (a, x) => a + x)
      .cast("double") / size(t)

  /** Ratio of a token array's tokens that appear in `stopwords` (a
    * quality signal: natural text has 0.2-0.5; keyboard mash and tables
    * have ~0). */
  def stopwordRatioW(t: Column, stopwords: Seq[String]): Column =
    size(filter(t, w => w.isin(stopwords.map(lit): _*))).cast("double") / size(t)

  /** Non-alphanumeric character ratio. Semantics: codepoints matching
    * `[^a-z0-9 ]` over total codepoints (callers lowercase first);
    * execution is the codegen `punct_count` byte-walk rather than
    * length-minus-length-of-`regexp_replace`, which materialized a
    * stripped copy of every document. */
  def punctRatio(text: Column): Column =
    call_function("punct_count", text).cast("double") / length(text)

  /** Per-language marker-word score: how many tokens are in the language's
    * marker list. Used by [[languageId]]. */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(markers.map(lit): _*)))

  /** Marker dictionaries for the 5 corpus languages. Function-word lists —
    * standard n-gram/stopword language-ID heuristic (compact by design so
    * the oracle SQL stays identical). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2")
  )

  /** Language ID: argmax of marker scores with a fixed-precedence
    * tie-break (first language in `LangMarkers` order wins; "und" when no
    * marker hits at all). */
  def languageId(text: Column, markers: Seq[(String, Seq[String])] = LangMarkers): Column = {
    val scores = markers.map { case (lang, ws) => lang -> langScore(text, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Document fingerprint: md5 of normalized text (lowercased, collapsed
    * whitespace, trimmed) — the exact-dedup key that survives trivial
    * formatting edits. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), " +", " ")))

  /** Quality score from text + precomputed token array. */
  def qualityScoreW(text: Column, t: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatioW(t, stopwords) * 5.0, lit(1.0))
    val divScore = lexicalDiversityW(t)
    round(lenScore * 0.3 + stopScore * 0.3 + divScore * 0.4, 6)
  }

  /** Composite quality score in [0,1]: weighted blend of length band,
    * stopword presence and lexical diversity; deterministic arithmetic
    * only, so an oracle can reproduce it bit-for-bit. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    qualityScoreW(text, tokens(text), stopwords)

  /** Vocabulary-growth (Heaps'-law) curve: ingest documents in id order,
    * bucket every `bucketDocs` consecutive ids, and report per bucket how
    * many NEVER-BEFORE-SEEN token types arrive and the cumulative
    * vocabulary size. The corpus-health monitor for a continuously-
    * ingesting pipeline: a crawl that keeps adding near-copies flattens
    * the new-type curve far below the Heaps V(n) ~ K·n^β expectation,
    * while a domain shift spikes it — both visible per shard without any
    * pairwise machinery.
    *
    * Output: (bucket, n_docs, n_tokens, new_types, cum_vocab) — all exact
    * integers (cross-engine hash-stable by construction).
    *
    * Scale shape: ONE corpus scan → a token-keyed min() aggregate
    * (first-seen bucket; map-side partial mins make the exchange
    * vocabulary-bounded, never corpus-sized) → a per-bucket count and a
    * running sum over a frame of |buckets| rows. No sort over tokens, no
    * state proportional to corpus length. The doc-side stats ride a
    * separate bucket-keyed aggregate over the same scan. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      bucketDocs: Long): DataFrame = {
    require(bucketDocs > 0, s"bucketDocs must be positive, got $bucketDocs")
    import org.apache.spark.sql.expressions.Window
    val bucket = floor(col(idCol) / bucketDocs).as("bucket")
    val docs = df.select(bucket, tokens(col(textCol)).as("ws"))
    val perBucket = docs.groupBy("bucket").agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("ws")).cast("long")).as("n_tokens"))
    val firstSeen = docs.select(col("bucket"), explode(col("ws")).as("tok"))
      .groupBy("tok").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_vocab",
        sum(col("new_types")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("bucket", "n_docs", "n_tokens", "new_types", "cum_vocab")
  }
}
