package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's MapReduce query workloads re-expressed as declarative
  * DataFrame plans over the `documents` fixture table, plus the text-analysis
  * operators of a training-data pipeline (quality stats, token counts,
  * fingerprints, language ID).
  *
  * These are the *optimized formulations* (SURVEY.md §7.2 step 4): where the
  * faithful `MapReduceJob` path shuffles every (word,"1") pair — matching the
  * reference's no-combiner dataflow (`src/mr/worker.go:123-131`) — these use
  * `explode`/`groupBy`/`agg` so Spark inserts partial aggregation and keeps
  * everything in WholeStageCodegen. Equality of the two paths is asserted in
  * the test suite.
  */
object TextOps {

  /** Tokenizer shared by wc/indexer/tfidf/search and the MrOut round trips:
    * the maximal letter runs, exactly the reference's
    * `FieldsFunc(!unicode.IsLetter)` (`src/mrapps/wc.go:21-39`) and the
    * `filter(split(text, "[^\\p{L}]+"), t => t =!= "")` the oracles replay,
    * as one codegen'd byte scan ([[graft.functions.TextKernels.letterSplit]]).
    */
  private[graft] def tokens(c: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.letterSplit(c)

  /** wc_udaf — the SAME word count routed through the `functions.udaf`
    * REGISTRY tier: `Workloads.WcAggregator` (the typed
    * `Aggregator[KeyValue, Long, String]` whose equality with the holistic
    * reduce WorkloadParitySpec already pins) is the session's `wc_count`
    * SQL function ([[graft.functions.GraftExtensions]]), called here by
    * name. This is the remaining rung of the reference's extensibility
    * ladder (SURVEY §2.3 "UDF/UDAF surface"): the plugin-`.so` reducef as a
    * catalog-registered aggregate a SQL user can call without touching the
    * typed API. Catalyst still plans partial aggregation around the
    * Aggregator's merge, so the exchange carries per-word partial counts —
    * the combiner the reference lacks — and the gate holds the SQL-registry
    * path to the exact wc oracle.
    */
  def wcUdaf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      // the aggregator consumes (key, value) pairs — the reference's wire
      // tuple; its output is the reference's STRING count, cast back
      .agg(expr("CAST(wc_count(word, '1') AS BIGINT)").as("cnt"))

  /** wc — word count over documents.text (reference `src/mrapps/wc.go`).
    * explode → two-phase hash agg; at 100 TB this is one shuffle keyed on
    * word with map-side combine (vs the reference shuffling every pair).
    */
  def wc(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** indexer — inverted index (reference `src/mrapps/indexer.go:20-39`):
    * per-document DISTINCT words, then per word the doc count and the
    * lexically-sorted comma-joined doc list (matching the reference's
    * `sort.Strings` on stringified doc ids).
    */
  def indexer(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").cast("string").as("doc"),
        explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy("word")
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("doc")))).as("docs"))

  /** nocrash_meta — the metadata-aggregation workload (reference
    * `src/mrapps/nocrash.go:26-47`) over documents: 4 fixed keys, values
    * sorted and space-joined. a=source, b=len(source), c=n_chars, d=const.
    */
  def nocrashMeta(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val pairs = d.select(lit("a").as("key"), col("source").cast("string").as("value"))
      .unionAll(d.select(lit("b").as("key"), length(col("source")).cast("string").as("value")))
      .unionAll(d.select(lit("c").as("key"), col("n_chars").cast("string").as("value")))
      .unionAll(d.select(lit("d").as("key"), lit("xyzzy").as("value")))
    pairs.groupBy("key")
      .agg(concat_ws(" ", sort_array(collect_list(col("value")))).as("value"))
  }

  /** text_stats — per-document quality metrics: char count, token count,
    * distinct-token count, stopword ratio, mean token length. One typed
    * JVM pass per document (round 14; the declarative
    * `filter(toks, isin)` / `array_distinct` higher-order formulation ran
    * its lambdas INTERPRETED per token — CodegenFallback — measured 5.7 s
    * at sf100 for a pure per-doc scan). Char counts are CODE POINTS,
    * matching SQL `length` (UTF8String.numChars) and the DuckDB replay;
    * the oracle is unchanged and re-proves the pass per row.
    */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      // the tokenize family's null contract: a null-text row is dropped
      // (the declarative form emitted a row of null metrics; a quality
      // gate treats both as not-keep, and the fixture plants no nulls)
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .map { case (id, text) =>
        val ts = wsTokens(text)
        val nChars = text.codePointCount(0, text.length)
        val distinct = new java.util.HashSet[String](ts.length * 2)
        var stops = 0
        var i = 0
        while (i < ts.length) {
          val t = ts(i)
          distinct.add(t)
          if (t == "the" || t == "a") stops += 1
          i += 1
        }
        (id, nChars, ts.length, distinct.size,
          stops.toDouble / ts.length.toDouble,
          nChars.toDouble / ts.length.toDouble)
      }
      .toDF("doc_id", "n_chars2", "n_tokens", "n_distinct",
        "stopword_ratio", "chars_per_token")
  }

  /** text_quality — composite quality gate in the style of published LLM
    * data-pipeline filters (token-count bounds, mean-token-length bounds,
    * stopword evidence, repetition via distinct ratio); `keep` is the
    * pipeline's filter bit. One typed JVM pass per document (round 14 —
    * same interpreted-HOF disease as [[textStats]]; 11.6 s at sf100 for a
    * shuffle-free scan). `mean_tok_len`'s numerator reproduces
    * `length(regexp_replace(text, "\s+", ""))` as total code points minus
    * `\s` chars (every `\s` char is one BMP code point, so the subtraction
    * is exact); all ratios divide the same ints the declarative form did,
    * so the doubles are bit-identical and the unchanged DuckDB oracle
    * gates the pass per row.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull) // same null contract as textStats
      .as[(Long, String)]
      .map { case (id, text) =>
        // every non-`\s` char of text lands in exactly one token (trim only
        // strips spaces, which are `\s`), so the regexp_replace numerator is
        // the sum of the tokens' code-point counts — one token pass, no
        // extra text scans
        val ts = wsTokens(text)
        val distinct = new java.util.HashSet[String](ts.length * 2)
        var stops = 0
        var nonWs = 0
        var i = 0
        while (i < ts.length) {
          val t = ts(i)
          distinct.add(t)
          nonWs += t.codePointCount(0, t.length)
          if (t == "the" || t == "a" || t == "of" || t == "and") stops += 1
          i += 1
        }
        val nTokens = ts.length
        val meanTokLen = nonWs.toDouble / nTokens.toDouble
        val distinctRatio = distinct.size.toDouble / nTokens.toDouble
        val keep = nTokens >= 10 && nTokens <= 100000 &&
          meanTokLen >= 2.0 && meanTokLen <= 12.0 &&
          stops >= 1 && distinctRatio > 0.2
        (id, nTokens, meanTokLen, stops, distinctRatio, keep)
      }
      .toDF("doc_id", "n_tokens", "mean_tok_len", "stopword_hits",
        "distinct_ratio", "keep")
  }

  /** text_tokens — BPE-ish token counting: word pieces + standalone
    * punctuation, the pre-tokenization regex shape most BPE vocabularies use.
    * Both counts are codegen'd byte-scan kernels
    * ([[graft.functions.GraftFunctions.bpeTokenCount]] /
    * [[graft.functions.GraftFunctions.wsTokenCount]]): the original
    * declarative forms — `size(regexp_extract_all(...))` for the BPE count
    * and `size(filter(split(trim(...))))` for the whitespace count —
    * materialized a per-row match array only to discard it, and ran the
    * higher-order filter interpreted (ArrayFilter is CodegenFallback);
    * measured 67 s at sf100 for what one pass over the bytes computes in
    * place. The DuckDB oracle still replays the regex forms, pinning the
    * kernels' equivalence; TextKernelSpec pins it property-style against
    * java.util.regex directly.
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.functions.GraftFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        graft.functions.GraftFunctions.wsTokenCount(col("text")).as("n_ws_tokens"))

  /** text_repetition — Gopher-style repetition signals: duplicate-token and
    * duplicate-word-3-gram counts per document (the "fraction of duplicate
    * n-grams" family of quality filters in published LLM pipeline rules;
    * [[textStats]]' distinct_ratio only sees token-level repetition, which
    * misses looping PHRASES). Counts stay integral so the oracle compare is
    * exact — consumers derive fractions downstream. Same tokenization and
    * 3-gram construction as the dedup shingle path (trim, split on \s+,
    * whole doc as one gram under 3 tokens). Pure builtins: one codegen'd
    * scan, no shuffle.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val (total, dup, totalG, dupG) = repetitionCounts(text)
        (id, total, dup, totalG, dupG)
      }
      .toDF("doc_id", "total_toks", "dup_toks", "total_3grams", "dup_3grams")
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace tokenization with the exact semantics of the declarative
    * `split(trim(text), "\\s+")` the oracles replay: SQL `trim` strips ASCII
    * space only (not \t/\n), and SQL `split` is Java regex split with
    * limit -1 (leading/trailing empty tokens from untrimmed whitespace are
    * kept; an all-space document yields the single empty token). Shared by
    * every typed JVM pass that must agree with a DuckDB
    * `string_split_regex(trim(text), '\s+')` replay.
    */
  def wsTokens(text: String): Array[String] = {
    var b = 0; var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    wsPattern.split(text.substring(b, e), -1)
  }

  /** Per-document repetition counts for [[textRepetition]] as one tight JVM
    * pass. The first formulation was declarative (`transform(sequence(...))`
    * building each 3-gram with `concat_ws`/`element_at`), but higher-order
    * array functions are CodegenFallback — interpreted per element — and the
    * gram array was evaluated for both `size` and `array_distinct`: measured
    * 7.9 s at sf0.1 vs ~0.3 s for the sibling text ops. This typed map is the
    * same single scan, no shuffle, and runs at JVM loop speed. Tokenization
    * is [[wsTokens]], pinned against the declarative original by the DuckDB
    * oracle.
    */
  def repetitionCounts(text: String): (Long, Long, Long, Long) = {
    val toks = wsTokens(text)
    val n = toks.length
    val seen = new java.util.HashSet[String](math.max(4, n * 2))
    var i = 0
    while (i < n) { seen.add(toks(i)); i += 1 }
    val dupToks = (n - seen.size).toLong
    if (n >= 3) {
      // tokens contain no whitespace, so the space-joined gram string is a
      // bijective key for the token triple — same distinctness the oracle's
      // joined grams compute
      val grams = new java.util.HashSet[String]((n - 2) * 2)
      val sb = new java.lang.StringBuilder
      i = 0
      while (i + 2 < n) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1)).append(' ').append(toks(i + 2))
        grams.add(sb.toString)
        i += 1
      }
      (n.toLong, dupToks, (n - 2).toLong, (n - 2 - grams.size).toLong)
    } else {
      // under 3 tokens the whole doc is its single gram — never a duplicate
      (n.toLong, dupToks, 1L, 0L)
    }
  }

  /** text_fingerprint — md5 content fingerprint per document (the
    * oracle-comparable half; the rolling hash lives in
    * [[textFingerprintPoly]] because 64-bit wraparound arithmetic is not
    * expressible in ANSI SQL's checked integers).
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("md5_fp"),
        sha2(col("text"), 256).as("sha256_fp"))

  /** text_fingerprint_poly — 64-bit fingerprints not expressible in checked
    * ANSI SQL (wraparound int64): a Karp–Rabin rolling hash via a typed map,
    * and FNV-1a via the native codegen'd `fnv64` Catalyst expression
    * (graft.functions) — the two custom-function tiers side by side.
    */
  def textFingerprintPoly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, text, rollingHash64(text)) }
      .toDF("doc_id", "text", "poly_fp")
      .select(col("doc_id"), col("poly_fp"),
        graft.functions.GraftFunctions.fnv64(col("text")).as("fnv_fp"))
  }

  /** 64-bit polynomial rolling hash over UTF-16 code units (base 257, natural
    * overflow wrap) — deterministic across JVMs.
    */
  def rollingHash64(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 257L + s.charAt(i).toLong; i += 1 }
    h
  }

  /** Terms kept per document by [[tfidf]]. */
  val TfidfTopK = 5

  /** tfidf — top-k characteristic terms per document by TF-IDF weight (the
    * keyword-extraction / topic-tagging primitive over the same inverted
    * index the `indexer` workload builds). The weight is kept as the exact
    * rational `tf · N / df` — one integer product (exact below 2^53) and one
    * IEEE division, so Spark and the oracle compute bit-identical doubles
    * with no log() libm hazard; the log-damped variant is monotone in this
    * ratio for fixed tf, and consumers can apply it downstream.
    *
    * 100 TB plan: tf is one shuffle on (doc, term) with map-side combine;
    * df one more on term over the already-distinct (doc, term) pairs. The
    * df table is vocabulary-sized, so AQE broadcasts the join back (a web-
    * scale vocabulary falls back to one extra hash join on term — linear).
    * The per-doc top-k is a rank filter: Catalyst's WindowGroupLimit prunes
    * to ≤ k rows per doc map-side before the final shuffle, like domain_cap.
    * tf feeds both the df aggregation and the join's probe side, and
    * exchange reuse does NOT fire across the diverging agg shapes (measured:
    * the executed plan re-scans and re-tokenizes the corpus), so tf is
    * cached transiently — post-agg triples, far smaller than the raw text
    * (graft.TransientCache contract: released after the consuming action).
    */
  def tfidf(s: SparkSession, dir: String, k: Int = TfidfTopK): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tf = graft.TransientCache.cache(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rnk"))
  }

  /** Stopword profiles for the n-gram/function-word language-ID heuristic.
    * Tiny on purpose: broadcast as a literal map into the expression.
    */
  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** text_langid — function-word-frequency language ID: score each language
    * by marker-token hits, argmax with deterministic tiebreak (lexicographic
    * lang code). One pass, no shuffle, no UDF.
    *
    * On this synthetic corpus (shared English-ish vocabulary for every lang
    * label) the interesting property is determinism + plumbing, not accuracy;
    * the accuracy test in the suite uses real multilingual snippets.
    */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    // letters include Han ideographs (general category Lo), so the zh
    // markers tokenize correctly without a script class; no marker is empty,
    // so dropping the empty split tokens changes no score
    val toks = tokens(lower(col("text")))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        size(filter(toks, t => t.isin(markers: _*))).as("score"),
        lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs: max score, ties broken by the
    // lexically GREATEST lang; invert by sorting desc on score then taking
    // element_at(..., 1) after sort_array on (negated score, lang).
    val best = element_at(
      sort_array(array(scored.map(st =>
        struct((-st.getField("score")).as("neg"), st.getField("lang").as("lang"))): _*)), 1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("label_lang"),
        best.getField("lang").as("pred_lang"),
        (-best.getField("neg")).as("marker_hits"))
  }

  /** lang_confusion — the declared-vs-detected language confusion matrix
    * over [[textLangId]]'s predictions: (label_lang, pred_lang, n_docs).
    * The corpus-QA aggregate that catches mislabeled sources (a source
    * whose declared lang disagrees with its content shows up as an
    * off-diagonal mass). Pure composition over the verified classifier —
    * one extra map-side-combined count on a languages² key space.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    textLangId(s, dir)
      .groupBy("label_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))

  /** text_normalize — the canonicalization pass that feeds fingerprint-based
    * dedup: casefold + collapse every whitespace run to one space + trim.
    * Emitted as (doc_id, n_raw, n_norm, changed, norm_md5) — the digest of
    * the NORMALIZED text is what a canonical-form dedup keys on (the raw
    * md5 is dedup_exact's key), and `changed` is the data-quality signal.
    *
    * The fixture corpus is already lowercase/single-spaced, which would
    * leave the operator vacuous at the gate (`changed` = 0 everywhere) —
    * so, exactly like [[graft.operators.Curation.piiScrub]]'s PII
    * augmentation, the input is a DETERMINISTIC doc_id-keyed mangling of
    * the corpus (uppercased + padded / double-spaced / trailing-newline
    * classes), replayed verbatim by the oracle; real-corpus behavior
    * (mixed case, tab runs) is pinned on planted strings in CurationSpec.
    * Every mangle class canonicalizes back to the CLEAN document's digest
    * — asserted in the spec, and the property that makes normalize-then-
    * dedup catch formatting near-dups exact dedup misses.
    *
    * The whitespace class is spelled `[ \t\r\n\f]+` explicitly, NOT `\s` —
    * the engines' `\s` sets differ at the edges (Java: vertical tab;
    * RE2: unicode option-dependent), and an explicit class has ONE meaning
    * everywhere, so the oracle can replay the normalization verbatim.
    * Casefolding is `lower`, identical across engines on the (asserted-
    * ASCII) corpus; a unicode corpus would swap in ICU casefolding on both
    * sides. Zero shuffle — pure codegen'd string ops at scan speed.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val mangled = when(col("doc_id") % 5 === 0,
      concat(lit("  "), upper(col("text")), lit("\t")))
      .when(col("doc_id") % 5 === 1,
        regexp_replace(col("text"), " ", "  "))
      .when(col("doc_id") % 5 === 2, concat(col("text"), lit("\n ")))
      .otherwise(col("text"))
    val norm = trim(regexp_replace(lower(col("raw")), "[ \\t\\r\\n\\f]+", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"), mangled.as("raw"))
      .select(col("doc_id"), col("raw"), norm.as("norm"))
      .select(col("doc_id"),
        length(col("raw")).as("n_raw"),
        length(col("norm")).as("n_norm"),
        (col("norm") =!= col("raw")).cast("long").as("changed"),
        md5(col("norm")).as("norm_md5"))
  }
}
