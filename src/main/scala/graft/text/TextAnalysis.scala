package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FreqItemsAgg.freq_items
import graft.functions.expressions.{byte_entropy, rolling_hash64}
import graft.ops.RankSelect

/** Text-analysis operators for the training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All per-document ops are narrow (no shuffle): a single projection
  * pass that stays in whole-stage codegen. Aggregations on top are
  * algebraic. Every formula is mirrored exactly in the DuckDB oracle
  * (same token definition, same rounding), so results hash-match.
  */
object TextAnalysis {

  /** Token definition shared with the oracle: trim, split on single
    * space. (The synthetic corpus is single-space separated with a
    * trailing blank; trim keeps Spark and DuckDB in lockstep.)
    */
  def tokens(text: Column): Column = split(trim(text), " ")

  val EnStop: Seq[String] = Seq("the", "a", "and", "of", "to", "in")
  val DeStop: Seq[String] = Seq("der", "die", "und", "das", "ein")
  val FrStop: Seq[String] = Seq("le", "la", "et", "les", "un")
  val EsStop: Seq[String] = Seq("el", "los", "y", "una", "que")

  private def countIn(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  /** Per-document statistics: token counts, length moments,
    * punctuation and stopword ratios.
    */
  def stats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      length(col("text")).cast("long").as("text_len"),
      round(length(concat_ws("", toks)).cast("double") / size(toks), 4).as("avg_token_len"),
      round(length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double") /
        length(col("text")), 4).as("punct_ratio"),
      round(countIn(toks, EnStop).cast("double") / size(toks), 4).as("stopword_ratio"))
  }

  /** Byte-distribution Shannon entropy per document — the classic
    * low-quality/garbage detector (boilerplate and encoded blobs sit
    * far from natural-language ~4.2 bits/byte). One codegen'd
    * histogram pass per row ([[graft.functions.expressions.ByteEntropy]]);
    * no explode, no shuffle — a map-only scan at any corpus size.
    */
  def entropyStats(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      round(byte_entropy(col("text")), 4).as("entropy"))

  /** The email shape the PII passes recognize, shared by
    * [[patternScan]] and [[redact]] so the measuring and rewriting
    * passes can never disagree: mixed-case dotted/plus/percent/
    * hyphen-tagged local parts, multi-label domains, a ≥2-letter
    * TLD (`First.Last+tag@sub.example.com` matches whole). Exotic
    * RFC shapes (quoted local parts, IP-literal domains, IDN)
    * are OUT of this shape by design — the pattern stays in the
    * Java∩RE2 subset (no lookaround/backrefs) so both engines
    * rewrite byte-identically.
    */
  private[graft] val EmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"

  /** Pattern scan — the pre-redaction pass of a PII/quality sweep:
    * counts of digit runs, capitalized tokens, and email-shaped
    * spans ([[EmailRe]]) per document, plus the redacted length
    * (digits stripped). All single-pass codegen'd regex ops on the
    * scan; map-only at any corpus size. Patterns stay in the
    * character-class subset where Java regex and RE2 agree, so the
    * oracle is exact.
    */
  def patternScan(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
        .cast("long").as("n_digit_runs"),
      size(regexp_extract_all(col("text"), lit("[A-Z][a-z]+"), lit(0)))
        .cast("long").as("n_capitalized"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      length(regexp_replace(col("text"), "[0-9]", "")).cast("long")
        .as("redacted_len"))

  /** PII REDACTION — the rewrite [[patternScan]] only measures:
    * email spans ([[EmailRe]] — exactly that shape, no more: the
    * md5 certificate proves the OUTPUT bytes, not that every
    * RFC-exotic address form was recognized) then digit runs
    * replaced with fixed-width tags, in that order (emails first —
    * the digit pass would otherwise shred an address's local part
    * and hide it from the email pattern). Patterns stay in the
    * Java∩RE2 dialect subset so both engines rewrite identically,
    * and the output carries the md5 of the REDACTED TEXT — the
    * oracle certifies the entire rewritten byte stream, not just
    * counts. Pure map-only pass; the full redacted text never
    * shuffles, only its hash and lengths.
    */
  def redact(documents: DataFrame): DataFrame = {
    val emails = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val redacted = regexp_replace(emails, "[0-9]+", "<NUM>")
    documents.select(col("doc_id"),
      length(col("text")).cast("long").as("orig_len"),
      length(redacted).cast("long").as("redacted_len"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      // counted on the email-redacted intermediate = exactly the
      // number of <NUM> tags the second pass inserted
      size(regexp_extract_all(emails, lit("[0-9]+"), lit(0)))
        .cast("long").as("n_nums"),
      md5(redacted).as("redacted_md5"))
  }

  /** N-gram-heuristic language ID: score each language's marker-word
    * set against the token stream; argmax with fixed priority order.
    */
  def langId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = documents.select(
      col("doc_id"), col("lang"),
      countIn(toks, EnStop).as("s_en"),
      countIn(toks, DeStop).as("s_de"),
      countIn(toks, FrStop).as("s_fr"),
      countIn(toks, EsStop).as("s_es"))
    scored.select(
      col("doc_id"), col("lang"),
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_es") && col("s_en") > 0, "en")
        .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") &&
          col("s_de") > 0, "de")
        .when(col("s_fr") >= col("s_es") && col("s_fr") > 0, "fr")
        .when(col("s_es") > 0, "es")
        .otherwise("und").as("pred_lang"))
  }

  /** Language-ID accuracy rollup against the labeled `lang` column. */
  def langIdEval(documents: DataFrame): DataFrame =
    langId(documents)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))

  /** Composite quality score in [0,1]:
    * 0.4·min(tokens,64)/64 + 0.3·distinct-ratio + 0.3·(1−stopword-ratio).
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id"), col("source"),
      round(
        least(size(toks), lit(64)).cast("double") / 64 * 0.4 +
          size(array_distinct(toks)).cast("double") / size(toks) * 0.3 +
          (lit(1.0) - countIn(toks, EnStop).cast("double") / size(toks)) * 0.3,
        4).as("quality"))
  }

  /** Per-document portable quality score: (doc_id, n_tokens, q_bp)
    * with q_bp in INTEGER basis points. Floored integer arithmetic
    * only: double rounding of a decimal midpoint differs across
    * engines (Spark rounds the shortest decimal repr half-up, DuckDB
    * rounds the raw double to even), so a portable per-document
    * score must never touch floats. Pure scan, reused by curation
    * and quality-weighted dedup.
    */
  def qualityBpFrame(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(col("doc_id"), size(toks).cast("long").as("n"),
        size(array_distinct(toks)).cast("long").as("d"),
        countIn(toks, EnStop).cast("long").as("s"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        (expr("least(n, 64L) * 4000 div 64") +
          expr("d * 3000 div n") + expr("(n - s) * 3000 div n")).as("q_bp"))
  }

  /** Cross-modal curation rollup: text quality ([[qualityBpFrame]],
    * same integer-bp weights as [[qualityScore]]) joined to the
    * embedding table's cluster label per document — the "curate by
    * semantic cluster" step that decides mixing weights. One
    * doc_id=vec_id equi-join (co-partitionable/bucketable at scale),
    * then a low-cardinality label rollup with map-side partials.
    */
  def curateByLabel(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    qualityBpFrame(documents)
      .join(embeddings.select(col("vec_id").as("doc_id"), col("label")), "doc_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens_total"),
        sum("q_bp").as("sum_q_bp"),
        min("q_bp").as("min_q_bp"))
  }

  /** Per-source quality rollup (corpus triage at scale: one shuffle
    * on the low-cardinality source key, partial aggs map-side).
    *
    * The mean of the per-document 4-dp scores comes from an exact
    * integer sum of basis points, rounded half-up to 4 dp, so it does
    * not depend on row order: a double `avg` sums in shuffle order,
    * and a row permutation can move its 4th decimal.
    */
  def qualityBySource(documents: DataFrame): DataFrame =
    qualityScore(documents)
      .withColumn("q_bp", round(col("quality") * 10000).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("q_bp").as("sum_bp"),
        round(min("quality"), 4).as("min_quality"),
        round(max("quality"), 4).as("max_quality"))
      .select(col("source"), col("n_docs"),
        (expr("(2 * sum_bp + n_docs) div (2 * n_docs)").cast("double") / 10000)
          .as("avg_quality"),
        col("min_quality"), col("max_quality"))

  /** Corpus vocabulary heavy-hitters via the Misra-Gries typed
    * imperative aggregate ([[graft.functions.FreqItemsAgg]]): only
    * fixed-size counter buffers cross the shuffle. With capacity
    * above the true vocab size the result is exact — which is what
    * the SQL oracle checks.
    */
  def vocabTopK(documents: DataFrame, k: Int = 10): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(freq_items(col("tok"), k).as("top"))
      .select(explode(col("top")).as("kv"))
      .select(col("kv.token").as("token"), col("kv.cnt").as("cnt"))

  /** Vocabulary heavy-hitters via Spark's native `approx_top_k`
    * frequent-items sketch — the built-in twin of [[vocabTopK]]'s
    * custom Misra-Gries aggregate. With the tracked-item budget above
    * the true vocabulary size the counts are exact, so both share
    * one SQL oracle; under the budget it degrades gracefully like
    * any frequent-items sketch.
    */
  def vocabTopKSketch(documents: DataFrame, k: Int = 10,
                      maxTracked: Int = 10000): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("tok"))
      // overfetch: the sketch breaks count ties arbitrarily, so pull
      // a margin past k and re-rank with a deterministic tiebreaker
      .agg(expr(s"approx_top_k(tok, ${k + 50}, $maxTracked)").as("top"))
      .select(explode(col("top")).as("kv"))
      .select(col("kv.item").as("token"), col("kv.count").as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Tokenizer comparison: whitespace tokens vs a BPE-style
    * pre-tokenization regex (word pieces / digit runs / punctuation
    * as separate tokens — the usual LLM pre-tokenizer shape). Both
    * are single-pass codegen'd regexes; the ratio estimates
    * tokens-per-word for corpus budgeting.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    val bpe = regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))
    documents.select(
      col("doc_id"),
      size(ws).cast("long").as("n_ws_tokens"),
      size(bpe).cast("long").as("n_bpe_tokens"),
      round(size(bpe).cast("double") / size(ws), 4).as("tokens_per_word"))
  }

  /** CONTEXT-WINDOW TRUNCATION audit — what a fixed sequence-length
    * cap costs on this corpus: for each candidate cap L (whitespace
    * tokens, the repo's token-budget proxy), how many documents
    * exceed L and how many tokens fall off the end of a truncating
    * loader. The curation decision this feeds — truncate vs split
    * vs drop — is made per cap from one table, BEFORE an expensive
    * tokenize-and-pack run; pct_tokens_lost at the chosen context
    * length is the headline number.
    *
    * Shape: ONE corpus scan computes per-doc token counts; all caps
    * aggregate in the SAME map-side-combined pass as conditional
    * sums (never |caps| passes, never a caps×docs explode); the
    * single-row result unpivots to |caps| rows on the driver-side
    * model frame. Ratios divide once at the end, rounded 4dp.
    */
  def truncationAudit(documents: DataFrame,
                      caps: Seq[Int] = Seq(64, 256, 1024, 4096)): DataFrame = {
    require(caps.nonEmpty && caps.forall(_ > 0), s"caps ($caps) must be positive")
    val n = documents.select(size(tokens(col("text"))).cast("long").as("n_tok"))
    val aggs = Seq(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens")) ++
      caps.flatMap(l => Seq(
        sum(when(col("n_tok") > l, 1L).otherwise(0L)).as(s"docs_over_$l"),
        sum(when(col("n_tok") > l, col("n_tok") - l).otherwise(0L))
          .as(s"lost_$l")))
    n.agg(aggs.head, aggs.tail: _*)
      .select(col("n_docs"), col("n_tokens"), explode(array(caps.map(l =>
        struct(lit(l.toLong).as("cap"), col(s"docs_over_$l").as("nd"),
          col(s"lost_$l").as("tl"))): _*)).as("c"))
      .select(col("c.cap").as("cap"), col("n_docs"),
        col("c.nd").as("n_docs_over"),
        round(col("c.nd").cast("double") / col("n_docs"), 4)
          .as("pct_docs_over"),
        col("n_tokens"), col("c.tl").as("tokens_lost"),
        round(col("c.tl").cast("double") / col("n_tokens"), 4)
          .as("pct_tokens_lost"))
  }

  /** Hashing-trick bag-of-words: each token buckets by its first md5
    * byte mod `dim`, emitting the SPARSE (doc_id, bucket, n_tokens)
    * triplet matrix — the fixed-width feature map a linear
    * quality/language/domain classifier trains on at corpus scale.
    * No vocabulary is ever built or broadcast (the entire point: a
    * 100 TB corpus's vocabulary is itself huge, unstable across
    * ingests, and a training-serving skew hazard; the hash IS the
    * feature index, identical on every engine with no fitted state).
    * One explode + one map-side-combined (doc, bucket) aggregation;
    * output bounded by docs × dim.
    */
  def hashedFeatures(documents: DataFrame, dim: Int = 16): DataFrame = {
    require(dim > 0 && 256 % dim == 0,
      s"dim ($dim) must divide 256 for exactly-even hash classes")
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 2), 16, 10)
          .cast("int") % dim).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n_tokens"))
  }

  /** Repetition score — the classic "repeated n-gram" quality
    * signal: frequency of the most common word bigram over total
    * bigrams. High values flag boilerplate / degenerate generations.
    * One explode + one grouped max — no per-doc UDF state.
    */
  def repetition(documents: DataFrame): DataFrame = {
    // non-distinct one-pass bigram kernel (the compositional
    // transform+slice chain costs ~2s/evaluation at sf0.1)
    val bigrams = graft.functions.expressions.shingle_list(col("text"), 2)
    documents.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_bigram_count"),
        sum("c").as("n_bigrams"))
      .select(col("doc_id"), col("top_bigram_count"),
        round(col("top_bigram_count").cast("double") / col("n_bigrams"), 4)
          .as("repetition_ratio"))
  }

  /** Sequence packing: assign documents to fixed-token-budget packs
    * (the "concat documents into 2048-token training rows" step),
    * deterministically — running token count per source stream,
    * pack = exclusive-prefix-sum ÷ budget. A window cumsum, not a
    * sequential packer: reproducible and shuffle-once.
    */
  def packSequences(documents: DataFrame, budget: Int = 512): DataFrame = {
    val toks = tokens(col("text"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    documents
      .select(col("doc_id"), col("source"), size(toks).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        ((col("cum") - col("n_tokens")) / budget).cast("long").as("pack_id"))
  }

  /** Chunk-level (CCNet-style) dedup audit: documents split into
    * fixed `chunkTokens`-token windows, duplicate chunks across the
    * WHOLE corpus collapse to their first occurrence (lowest
    * (doc_id, chunk_idx)), and each document reports how much of it
    * survives. Finer-grained than whole-document dedup — boilerplate
    * shared across documents dies here while unique prose stays.
    * The only shuffle key is a 64-bit chunk hash — chunk TEXT never
    * leaves its scan partition, which is the difference between
    * shuffling 8 bytes and shuffling the corpus at 100 TB.
    * (Equality-by-hash, like every hash-keyed dedup here.)
    */
  def chunkDedup(documents: DataFrame, chunkTokens: Int = 16): DataFrame = {
    val w = Window.partitionBy("h")
    documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("chunks", expr(
        s"""transform(sequence(0, (size(toks) - 1) div $chunkTokens),
           |  i -> concat_ws(' ', slice(toks, i * $chunkTokens + 1, $chunkTokens)))""".stripMargin))
      .select(col("doc_id"), posexplode(col("chunks")))
      // project the chunk DOWN to its hash before anything shuffles
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        xxhash64(col("col")).as("h"))
      .withColumn("first", min(struct(col("doc_id"), col("chunk_idx"))).over(w))
      .withColumn("kept",
        (col("first.doc_id") === col("doc_id") &&
          col("first.chunk_idx") === col("chunk_idx")).cast("int"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("kept").as("n_kept"),
        round(sum("kept").cast("double") / count(lit(1)), 4).as("kept_ratio"))
  }

  /** CCNet-style boilerplate removal audit: fixed token segments
    * (the stand-in for lines/paragraphs — the corpus has no newlines)
    * that occur in ≥ `minDocs` DISTINCT documents are boilerplate and
    * are removed EVERYWHERE, first occurrence included — the
    * frequency-threshold complement of [[chunkDedup]], which keeps
    * first occurrences. Per-document output: segment counts and the
    * retained-token ratio after boilerplate removal.
    *
    * Scale shape mirrors chunkDedup: segments project down to their
    * 64-bit hash before anything shuffles (doc-frequency groupBy and
    * the flag join are both keyed on the 8-byte hash; segment text
    * never leaves its scan partition).
    */
  def boilerplate(documents: DataFrame, segTokens: Int = 8,
                  minDocs: Int = 2): DataFrame = {
    val segs = documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("segs", expr(
        s"""transform(sequence(0, (size(toks) - 1) div $segTokens),
           |  i -> concat_ws(' ', slice(toks, i * $segTokens + 1, $segTokens)))""".stripMargin))
      .select(col("doc_id"), explode(col("segs")).as("seg"))
      .select(col("doc_id"), xxhash64(col("seg")).as("h"),
        size(split(col("seg"), " ")).cast("long").as("seg_toks"))
    val boiler = segs.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(1).as("is_boiler"))
    segs.join(boiler, Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        count(col("is_boiler")).as("n_boiler_segs"),
        sum("seg_toks").as("n_toks"),
        round(sum(when(col("is_boiler").isNull, col("seg_toks"))
          .otherwise(0L)).cast("double") / sum("seg_toks"), 4).as("retained_ratio"))
  }

  /** Cross-document DUPLICATED-SPAN audit — the token-level exact
    * substring-duplication signal (the "dedup training data at the
    * substring level" measurement): for every document, how many of
    * its tokens sit inside at least one `n`-gram that also occurs in
    * ANOTHER document. [[boilerplate]] tiles disjoint segments (a
    * shifted copy escapes it); this slides the window at stride 1,
    * so any verbatim cross-document run of ≥ n tokens is caught at
    * every alignment. Only (doc_id, pos, 60-bit gram hash) rows ever
    * shuffle — gram text stays in its scan partition; duplicated
    * positions collapse per document by the classic sorted interval
    * union (running max-end window, partitioned by doc_id — per-task
    * work bounded by document length). The gram key is the md5
    * 15-nibble BIGINT on BOTH engines, so even a collision replays
    * identically. Output: one row per document, dup-token count and
    * 4dp ratio.
    */
  def dupSpans(documents: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 2, s"n ($n) must be at least 2")
    val base = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n_tokens"))
    val grams = base
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), col("n_tokens"), explode(expr(
        s"transform(sequence(1, size(t) - ${n - 1}), i -> named_struct(" +
          s"'pos', CAST(i AS BIGINT), " +
          s"'h', CAST(conv(substring(md5(concat_ws(' ', slice(t, i, $n))), 1, 15), 16, 10) AS BIGINT)))"))
        .as("p"))
      .select(col("doc_id"), col("n_tokens"),
        col("p.pos").as("pos"), col("p.h").as("h"))
    val dupH = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val covered = grams.join(dupH.hint("shuffle_hash"), Seq("h"), "left_semi")
      .withColumn("prev_end", max(col("pos") + lit(n - 1L))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("contrib", greatest(lit(0L),
        col("pos") + lit(n - 1L) -
          greatest(col("pos"), coalesce(col("prev_end") + 1L, col("pos"))) + 1L))
      .groupBy("doc_id").agg(sum("contrib").as("dup_tokens"))
    base.join(covered.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 4).as("dup_ratio"))
  }

  /** Zipf rank-frequency audit: per-source top-`k` term histogram,
    * ranked deterministically by (count desc, term asc), fitted with
    * an OLS line over (ln rank, ln count) — slope ≈ −1 is the
    * natural-language signature; a flat or cliff-shaped slope flags
    * synthetic or template-heavy sources. The histogram collapses to
    * ≤ k rows per source via the native [[graft.plans.TopKPerKey]]
    * operator (bounded heaps — the full vocabulary never sorts), so
    * the regression runs over a constant-size frame per source.
    */
  /** WINNOWING fingerprint selection (the MOSS algorithm, Schleimer
    * et al. SIGMOD'03) — the bounded-size alternative to
    * [[dupSpans]]'s every-gram index: slide a window of `w`
    * consecutive token-`q`-gram hashes and keep each window's
    * MINIMUM (ties → rightmost position, the robust-winnowing rule),
    * so stored fingerprints are ~2/(w+1) of the grams yet any shared
    * run of ≥ w+q−1 tokens is GUARANTEED to surface a common
    * fingerprint — the detection floor is a tunable contract, not
    * luck. Per doc this reports the fingerprint count and how many
    * fingerprints are shared with ANOTHER document (the plagiarism /
    * verbatim-reuse signal at index-size budget).
    *
    * Determinism discipline: the per-window argmin is ONE exact
    * integer `min` — hash and tie-break packed as
    * `h·2⁴⁰ + (2⁴⁰−1−pos)` in DECIMAL(38,0)/HUGEINT (a 40-bit tie
    * field holds ~10¹² gram positions — beyond any document; the
    * 60-bit hash times 2⁴⁰ stays inside both decimal types, and a
    * narrower field would let a long doc's position bleed into the
    * hash band and silently select a non-minimum), so both
    * engines select identical fingerprints with no argmin
    * tie ambiguity. The gram key is the md5 15-nibble BIGINT of
    * [[dupSpans]]; windows are per-doc `rowsBetween` frames
    * (per-task work bounded by document length); only (doc, pos,
    * hash) rows ever shuffle. Docs shorter than w grams winnow their
    * single short window; docs with zero grams stay as explicit
    * zero rows.
    */
  def winnow(documents: DataFrame, q: Int = 4, w: Int = 4): DataFrame = {
    require(q >= 1, s"q ($q) must be positive")
    require(w >= 1, s"w ($w) must be positive")
    val base = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        greatest(lit(0L), (size(col("t")) - (q - 1)).cast("long"))
          .as("n_grams"), col("t"))
    // winnowing is PER-DOCUMENT by construction, so the whole
    // selection runs in the array domain inside one generator chain:
    // packed keys once per gram (the md5 is the expensive term —
    // never recomputed per window), each window start takes
    // array_min over its w-slice, array_distinct collapses repeats —
    // and only the selected ~2/(w+1) fingerprints ever explode.
    // The former formulation exploded EVERY gram and paid a full
    // per-doc sort exchange for a rowsBetween window min; this one
    // shuffles nothing until the (doc, fingerprint) frame — the
    // embarrassingly-parallel shape MOSS has on paper. Selection is
    // bit-identical: same packed `h·2⁴⁰ + (2⁴⁰−1−pos)` key, same
    // valid window starts (a doc with < w grams keeps its one short
    // window — `slice` truncates at the array end), same distinct.
    // hash-repartition BEFORE the per-doc selection: the md5-per-gram
    // work parallelizes on the 1×-corpus side of the generator
    // instead of inheriting the input split count (the editDistance
    // discipline). Explicit AQE-exempt count — byte-targeted
    // coalescing would serialize this small-bytes/heavy-CPU stage.
    val fps = base.filter(col("n_grams") >= 1)
      .repartition(graft.ops.Rounds.cpuPartitions(documents), col("doc_id"))
      .withColumn("keys", expr(
        s"transform(sequence(1, size(t) - ${q - 1}), i -> " +
          s"CAST(conv(substring(md5(concat_ws(' ', slice(t, i, $q))), " +
          s"1, 15), 16, 10) AS DECIMAL(38,0)) * 1099511627776 + " +
          s"(1099511627775 - CAST(i AS BIGINT)))"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, greatest(1, size(keys) - ${w - 1})), " +
          s"s -> array_min(slice(keys, s, $w))))")).as("sel"))
      .select(col("doc_id"),
        expr("CAST(sel div 1099511627776 AS BIGINT)").as("h"))
      // feeds the shared-hash aggregate, the semi-join probe, and
      // the per-doc count
      .localCheckpoint()
    val shared = fps.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("h")
    val counts = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
    val nShared = fps.join(shared.hint("shuffle_hash"), Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    base.select(col("doc_id"), col("n_grams"))
      .join(counts.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(nShared.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        // gram-less docs have no fingerprint population: explicit
        // NULL ratio, never a 0/0
        when(col("n_fps").isNotNull,
          round(coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_fps"), 4)).as("shared_ratio"))
  }

  def zipf(documents: DataFrame, k: Int = 100): DataFrame = {
    val counts = documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
    val top = graft.plans.TopK.perKey(counts, Seq("source"),
      Seq(col("n").desc, col("token").asc), k)
    val w = Window.partitionBy("source").orderBy(col("n").desc, col("token").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        round(expr("regr_slope(log(n), log(rank))"), 4).as("zipf_slope"),
        round(expr("regr_intercept(log(n), log(rank))"), 4).as("zipf_intercept"))
  }

  /** VOCABULARY COVERAGE curve — what fraction of corpus token
    * occurrences the top-k word types cover, for each candidate k:
    * the readout that sizes a tokenizer vocabulary (coverage at the
    * proposed size IS the OOV budget) and quantifies how head-heavy
    * the corpus is beyond [[zipf]]'s slope summary.
    *
    * Scale shape: the type-count aggregate is the only corpus pass;
    * the top-max(k) cut rides the bounded-heap [[graft.plans.TopK]]
    * (never a vocabulary sort — the vocabulary is itself huge at
    * 100 TB), ranking happens on the ≤ max(k)-row model frame (the
    * constant grouping key makes that window's single partition
    * bounded by construction), and all k's aggregate as conditional
    * sums in one pass, unpivoted driver-side like
    * [[truncationAudit]]. Coverage divides once, in integer ppm.
    */
  def vocabCoverage(documents: DataFrame,
                    ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks ($ks) must be positive")
    val counts = documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum("n").as("total_occurrences"),
      count(lit(1)).as("total_types"))
    val w = Window.partitionBy("g").orderBy(col("n").desc, col("token").asc)
    val ranked = graft.plans.TopK.perKey(counts.withColumn("g", lit(0)),
        Seq("g"), Seq(col("n").desc, col("token").asc), ks.max)
      .withColumn("rank", row_number().over(w).cast("long"))
    val aggs = ks.flatMap(k => Seq(
      sum(when(col("rank") <= k, 1L).otherwise(0L)).as(s"types_$k"),
      sum(when(col("rank") <= k, col("n")).otherwise(0L)).as(s"cov_$k")))
    ranked.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(totals))
      .select(col("total_occurrences"), col("total_types"),
        explode(array(ks.map(k => struct(lit(k.toLong).as("k"),
          col(s"types_$k").as("ty"), col(s"cov_$k").as("cv"))): _*)).as("c"))
      .select(col("c.k").as("k"), col("c.ty").as("n_types_in_k"),
        col("c.cv").as("covered_occurrences"),
        col("total_occurrences"), col("total_types"),
        // covered·10⁶ wraps int64 past ~9.2e12 token occurrences —
        // below this operator's own 100 TB design point — so the
        // product widens (the tokenBudget/burst ratio discipline)
        expr("CAST(CAST(c.cv AS DECIMAL(38,0)) * 1000000 " +
          "div total_occurrences AS BIGINT)").as("coverage_ppm"))
  }

  /** Deterministic ENCODING-DAMAGE generator for the audit below —
    * the three classes a web-scale text ingest actually meets,
    * injected by doc_id (first matching rule wins) exactly like the
    * CDC malformed feed: U+FFFD replacement chars (a double-decode /
    * mojibake scar), stray control bytes (binary bleed-through), and
    * whitespace runs (boilerplate stripping damage).
    */
  def corruptEncoding(documents: DataFrame): DataFrame =
    documents.withColumn("text",
      when(col("doc_id") % 11 === 0, concat(col("text"), lit(" \uFFFD")))
        .when(col("doc_id") % 13 === 0, concat(col("text"), lit("\u0007")))
        .when(col("doc_id") % 17 === 0, concat(col("text"), lit("  x")))
        .otherwise(col("text")))

  /** ENCODING/CLEANLINESS AUDIT — per source: how many documents
    * carry replacement characters, control characters, or
    * whitespace runs, and how many characters the standard cleaning
    * pass (drop control + replacement chars, halve space pairs —
    * ONE leftmost-non-overlapping replace sweep, so a run of 4
    * spaces becomes 2, not 1; both engines share the single-pass
    * semantics, which is why it is the delta of record) would
    * remove. The C4/CCNet-style hygiene gate a corpus ingest
    * runs BEFORE quality scoring — a source with high dirty_ppm has
    * an extraction problem upstream, not a content problem. Pure
    * scan-side projection (translate + replace + contains — no
    * regex engine divergence between engines), one low-cardinality
    * aggregate; the dirty ratio widens through DECIMAL(38,0).
    */
  /** Per-document hygiene FLAGS — the projection [[encodingAudit]]
    * aggregates and [[graft.streaming.TextStreams.hygieneRoute]]
    * routes on, defined ONCE so the batch audit and the live gate
    * cannot drift. The match set is a Scala literal, NOT Spark
    * chr(): Spark's chr(n) is mod-256 ASCII (chr(65533) = 'ý'),
    * silently missing U+FFFD, while DuckDB's chr() is a code point.
    * Pure narrow map — streams and pushes down untouched.
    */
  def encodingFlags(documents: DataFrame): DataFrame = {
    val cleaned = regexp_replace(
      translate(col("text"), "\u0007\uFFFD", ""), "  ", " ")
    documents
      .withColumn("r",
        when(col("text").contains("\uFFFD"), 1L).otherwise(0L))
      .withColumn("c",
        when(col("text").contains("\u0007"), 1L).otherwise(0L))
      .withColumn("m",
        when(col("text").contains("  "), 1L).otherwise(0L))
      .withColumn("rm",
        (length(col("text")) - length(cleaned)).cast("long"))
  }

  def encodingAudit(documents: DataFrame): DataFrame = {
    encodingFlags(documents)
      .select(col("source"), col("r"), col("c"), col("m"), col("rm"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("r").as("n_replacement"),
        sum("c").as("n_control"),
        sum("m").as("n_multispace"),
        sum(when(col("r") + col("c") + col("m") > 0, 1L).otherwise(0L))
          .as("dirty_docs"),
        sum("rm").as("chars_removed"))
      .withColumn("dirty_ppm",
        expr("CAST(CAST(dirty_docs AS DECIMAL(38,0)) * 1000000 " +
          "div n_docs AS BIGINT)"))
  }

  /** SOURCE VOCABULARY OVERLAP — the corpus-composition matrix: for
    * every source pair, how many of each side's top-`k` tokens are
    * shared (ppm of the k-budget). Two feeds with near-total head
    * overlap are topically redundant (mixing both buys diversity
    * only in the tail); near-zero overlap across same-language
    * feeds usually means one is template/boilerplate-dominated —
    * either way, the matrix is what a mixing review reads next to
    * [[graft.ops.Sampling.temperatureMix]]'s size-based weights.
    * Per-source heads ride bounded TopKPerKey heaps (the vocabulary
    * is never sorted); the pair matrix is a token-keyed equi-join
    * of the ≤sources·k head frame against itself — model-sized at
    * any corpus scale — left-joined onto the full source grid so
    * zero-overlap pairs report explicitly.
    */
  /** Per-source TOKEN-DISTRIBUTION drift — exact TOTAL-VARIATION
    * distance between each source's unigram distribution and the
    * corpus's: TV(p_s, p) = ½ Σ_t |p_s(t) − p(t)|, the
    * mixture-weighting diagnostic next to [[sourceOverlap]]'s
    * head-vocabulary view (overlap compares top-k type SETS; TV
    * weighs the FULL distributions — a source can share every head
    * token and still be distributionally alien in the tail, which is
    * exactly what DSIR-style reweighting and temperature mixing react
    * to; TV ≈ 0 says the source is redundant with the mixture,
    * TV → 1 says it is a disjoint register).
    *
    * Exact rational arithmetic, no per-type rounding: the absent-type
    * mass folds CLOSED-FORM — Σ_{t∉s} c_t·T_s = (T − Σ_{t∈s} c_t)·T_s
    * — so only (source, PRESENT-type) rows are ever scored (one
    * equi-join of the per-source counts against the corpus counts;
    * no source × full-vocabulary fan-out, no union-of-types frame),
    * terms widen through DECIMAL(38,0) at the multiply (c·T ≈ 10¹⁷
    * per term at 100 TB scale — HUGEINT oracle-side), and ONE
    * integer division lands the ppm at the end, in the positive
    * quadrant where `div` and `//` agree. Two map-side-combined
    * aggregations over the token stream + model-sized broadcasts.
    */
  def sourceTvDrift(documents: DataFrame): DataFrame = {
    val st = documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
    val t = st.groupBy("tok").agg(sum("c_st").as("c_t"))
    val ts = st.groupBy("source").agg(sum("c_st").as("t_s"))
    val tot = t.agg(sum("c_t").as("t_all"))
    st.join(t.hint("shuffle_hash"), Seq("tok"))
      .join(broadcast(ts), Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        max("t_s").as("t_s"),
        max("t_all").as("t_all"),
        sum(expr("abs(CAST(c_st AS DECIMAL(38,0)) * t_all " +
          "- CAST(c_t AS DECIMAL(38,0)) * t_s)")).as("sterm"),
        sum("c_t").as("cov"))
      .select(col("source"), col("n_types"),
        col("t_s").as("n_tokens"),
        expr("CAST((sterm + CAST(t_all - cov AS DECIMAL(38,0)) * t_s) " +
          "* 1000000 div (2 * CAST(t_s AS DECIMAL(38,0)) * t_all) " +
          "AS BIGINT)").as("tv_ppm"))
  }

  def sourceOverlap(documents: DataFrame, k: Int = 50): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val counts = documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
    val top = graft.plans.TopK.perKey(counts, Seq("source"),
        Seq(col("n").desc, col("token").asc), k)
      .select(col("source"), col("token"))
      .localCheckpoint() // grid + both join sides read it
    val srcs = top.select("source").distinct()
    val grid = srcs.select(col("source").as("source_a"))
      .join(broadcast(srcs.select(col("source").as("source_b"))),
        col("source_a") < col("source_b"))
    val shared = top.select(col("source").as("source_a"), col("token"))
      .join(top.select(col("source").as("source_b"), col("token"))
        .hint("shuffle_hash"), Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
    grid.join(shared.hint("shuffle_hash"),
        Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_ppm",
        expr(s"CAST(CAST(n_shared AS DECIMAL(38,0)) * 1000000 " +
          s"div $k AS BIGINT)"))
  }

  /** VOCABULARY GROWTH CURVE (Heaps'-law audit) — new token types
    * and token mass per corpus-prefix slice, in ingest-id order: the
    * corpus-health read that says whether vocabulary is still
    * growing (healthy diversity) or has flattened (the corpus is
    * re-crawling itself — pair with the dedup family) and how much
    * of a tokenizer-vocab budget each additional data slice buys
    * (pair with [[vocabCoverage]], which reads the END state; this
    * reads the TRAJECTORY).
    *
    * `bucket` is an id-RANGE slice — `doc_id·buckets div (max+1)` —
    * so slicing is a narrow map off one broadcast max, never a
    * global rank. A token's first bucket is `min(bucket)` over its
    * occurrences (one map-side-combined aggregate on the token key,
    * the same shuffle [[vocabCoverage]] pays), and the ≤`buckets`-row
    * summary gets its cumulative lines from
    * [[graft.ops.ModelFrames.exclusivePrefixSum]] — no single-
    * partition window anywhere.
    */
  def vocabGrowth(documents: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets > 0, s"buckets ($buckets) must be positive")
    val hi = documents.agg((max("doc_id") + 1).as("nd"))
    val sliced = documents.crossJoin(broadcast(hi))
      .select(expr(s"doc_id * $buckets div nd").as("bucket"),
        tokens(col("text")).as("toks"))
    val perBucket = sliced.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("n_tokens"))
    val firstBucket = sliced
      .select(col("bucket"), explode(col("toks")).as("token"))
      .groupBy("token").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val summary = perBucket
      .join(firstBucket, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .localCheckpoint() // the two prefix lines + the join all read it
    val cumTok = graft.ops.ModelFrames.exclusivePrefixSum(
      summary, "bucket", "n_tokens", "tok_off")
    val cumTyp = graft.ops.ModelFrames.exclusivePrefixSum(
      summary, "bucket", "new_types", "typ_off")
    summary
      .join(broadcast(cumTok), Seq("bucket"))
      .join(broadcast(cumTyp), Seq("bucket"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("new_types"),
        (col("tok_off") + col("n_tokens")).as("cum_tokens"),
        (col("typ_off") + col("new_types")).as("cum_types"))
  }

  /** Document fingerprints: a 64-bit hex prefix of md5 (oracle-
    * checkable) plus the Rabin-Karp rolling hash from the custom
    * Catalyst expression (the scale-path fingerprint).
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      substring(md5(col("text")), 1, 16).as("fp_md5_64"),
      rolling_hash64(col("text")).as("fp_roll"))

  /** Gopher-style rule-based quality filter: per-document boolean
    * flags (too short / low lexical diversity / stopword-heavy), then
    * a per-source pass-rate rollup. Thresholds sit inside the
    * synthetic corpus' observed ranges so each rule actually fires.
    * Scan-only per-doc pass + one low-cardinality shuffle.
    */
  def qualityFilterBySource(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val flagged = documents.select(
      col("source"),
      (size(toks) < 20).as("too_short"),
      (size(array_distinct(toks)).cast("double") / size(toks) < 0.4)
        .as("low_diversity"),
      (countIn(toks, EnStop).cast("double") / size(toks) > 0.1)
        .as("stopword_heavy"))
    flagged
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("too_short"), 1L).otherwise(0L)).as("n_short"),
        sum(when(col("low_diversity"), 1L).otherwise(0L)).as("n_low_diversity"),
        sum(when(col("stopword_heavy"), 1L).otherwise(0L)).as("n_stopword_heavy"),
        sum(when(!col("too_short") && !col("low_diversity") &&
          !col("stopword_heavy"), 1L).otherwise(0L)).as("n_pass"))
  }

  /** Benchmark decontamination: flag training documents sharing
    * ≥ `minShared` distinct word n-grams with a benchmark corpus
    * (here: `source = benchSource` stands in for the eval set).
    * Candidate generation is an inverted-index equi-join on the
    * shingle — the same no-cross-join shape as the dedup operators,
    * so it scales as shuffle joins at 100 TB (the benchmark side is
    * tiny in practice and broadcasts, but that's left to the
    * planner).
    */
  def contamination(documents: DataFrame, benchSource: String = "src0",
                    minShared: Int = 5): DataFrame = {
    val sh = graft.dedup.Dedup.shingleArray(col("text"))
    val bench = documents.filter(col("source") === benchSource)
      .select(explode(sh).as("shingle")).distinct()
    val train = documents.filter(col("source") =!= benchSource)
    val hits = train.select(col("doc_id"), explode(sh).as("shingle"))
      .join(bench, "shingle")
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_shared"))
    train.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** Bloom-prefiltered decontamination — output-identical to
    * [[contamination]] (blooms have no false negatives and the exact
    * shingle join re-verifies every surviving candidate, so false
    * positives wash out; it shares the same SQL oracle), but the
    * expensive exact join only sees documents whose shingles MIGHT
    * overlap the benchmark. At 100 TB that's the difference between
    * shuffling the whole training corpus's shingles and shuffling a
    * few percent: the bloom is a bounded broadcast (≈1.2 bytes per
    * benchmark shingle at 3% fpp) probed map-side on the scan. The
    * probe is a driver-built sketch + broadcast, the one place a
    * bounded driver action is the right scale tool.
    */
  def contaminationBloom(documents: DataFrame, benchSource: String = "src0",
                         minShared: Int = 5, fpp: Double = 0.03): DataFrame = {
    val sh = graft.dedup.Dedup.shingleArray(col("text"))
    val bench = documents.filter(col("source") === benchSource)
      .select(explode(sh).as("shingle")).distinct()
    val bloom = bench.stat.bloomFilter("shingle", math.max(bench.count(), 1L), fpp)
    val bc = documents.sparkSession.sparkContext.broadcast(bloom)
    val mightHit = udf((shingles: Seq[String]) =>
      shingles != null && shingles.exists(bc.value.mightContainString))
    val train = documents.filter(col("source") =!= benchSource)
    val hits = train.filter(mightHit(sh))
      .select(col("doc_id"), explode(sh).as("shingle"))
      .join(bench, "shingle")
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_shared"))
    train.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** TF-IDF top terms per document (smooth idf = ln((N+1)/(df+1))+1).
    * Corpus stats are two keyed aggregations; the document count
    * broadcasts like a scalar subquery; per-doc top-k runs through
    * the native [[graft.plans.TopKPerKey]] operator (bounded heaps,
    * no full per-doc sort), with the rank recovered on the k-bounded
    * output.
    */
  def tfIdfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfc"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, "token")
      .join(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        round(col("tf") * (log((col("n_docs") + 1.0) / (col("dfc") + 1.0)) + 1.0), 4)
          .as("tfidf"))
    val topped = graft.plans.TopK.perKey(scored, Seq("doc_id"),
      Seq(col("tfidf").desc, col("token").asc), k)
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    topped
      .withColumn("rk", row_number().over(w).cast("long"))
      .select("doc_id", "rk", "token", "tfidf")
  }

  /** End-to-end corpus curation: exact-dedup keepers → rule-based
    * quality filter → deterministic split assignment → per
    * (source, split) manifest. The composition story: every stage is
    * one of the engine's operators, chained as plain DataFrame
    * transforms — the whole pipeline is a single Catalyst plan (the
    * dedup window, the filter, and the split hash all run in one
    * scan + one doc_id-keyed window shuffle before the final
    * aggregation).
    */
  def curationManifest(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val wDup = Window.partitionBy(md5(col("text")))
    documents
      .withColumn("keep_doc_id", min("doc_id").over(wDup))
      .filter(col("doc_id") === col("keep_doc_id")) // exact-dup keepers
      .withColumn("n_tokens", size(toks).cast("long"))
      .filter(col("n_tokens") >= 20 &&
        size(array_distinct(toks)).cast("double") / size(toks) >= 0.4 &&
        countIn(toks, EnStop).cast("double") / size(toks) <= 0.1) // quality rules
      .withColumn("split", graft.ops.Sampling.hashSplit(col("doc_id")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens_total"),
        round(avg("n_tokens"), 4).as("avg_tokens"))
  }

  /** End-to-end curation manifest, REPETITION-AWARE edition: the
    * [[curationManifest]] pipeline with its exact-dup keeper step
    * replaced by near-dup SOFT dedup
    * ([[graft.ops.Sampling.softDedup]] — survive with ~1/cluster_size
    * probability, so template families contribute ~1 expected doc
    * while paraphrase diversity survives), the same quality rules,
    * and the split hashed on the near-dup KEEPER id (the
    * leakage-safe assignment — a val doc can never have a surviving
    * train twin within the propagation radius). This is the manifest
    * a production pretraining-data job actually ships: dedup policy,
    * quality bar, and contamination-safe split in one pass, summed
    * per (source, split).
    */
  def curationManifestSoft(documents: DataFrame, tau: Double = 0.9,
                           iters: Int = 2): DataFrame =
    curationManifestSoft(documents,
      graft.dedup.Dedup.fitKeepers(documents, tau, iters))

  /** [[curationManifestSoft]] over a fitted
    * [[graft.dedup.Dedup.KeeperModel]]: the manifest's dedup policy,
    * quality bar, and keeper-keyed split all ride the one
    * materialized mapping — the fit-once shape a production curation
    * job actually runs (the model is shared with the split, audit,
    * and cluster-report queries of the same pipeline).
    */
  def curationManifestSoft(documents: DataFrame,
                           model: graft.dedup.Dedup.KeeperModel): DataFrame = {
    val toks = tokens(col("text"))
    val soft = graft.ops.Sampling.softDedup(model)
      .filter(col("soft_kept"))
      .select(col("doc_id"), col("keep_doc_id"))
    documents
      .join(soft.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .filter(col("n_tokens") >= 20 &&
        size(array_distinct(toks)).cast("double") / size(toks) >= 0.4 &&
        countIn(toks, EnStop).cast("double") / size(toks) <= 0.1)
      .withColumn("split", graft.ops.Sampling.hashSplit(col("keep_doc_id")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens_total"),
        round(avg("n_tokens"), 4).as("avg_tokens"))
  }

  /** Count-based bigram language-model scoring (the KenLM-ish
    * quality signal shape): corpus-level unigram/bigram counts, each
    * document scored by the mean log conditional probability of its
    * bigrams. Two corpus aggregations + two equi-joins — everything
    * is keyed, partial-agg friendly, and free of per-doc state, so
    * the same plan runs at corpus scale (the count tables ARE the
    * model; they shuffle once and join hash-to-hash).
    */
  /** Top-k collocations by pointwise mutual information:
    * PMI(a,b) = ln(N_uni · c_ab / (c_a · c_b)) over corpus bigram /
    * unigram counts, thresholded at `minCount` occurrences (raw PMI
    * overweights hapax pairs — the standard guard). The collocation
    * list is the vocabulary-curation artifact (multi-word terms,
    * boilerplate phrases) a tokenizer-training pass wants.
    *
    * Scale shape: two map-side-combined count aggregations, then the
    * bigram table joins the (small) unigram table twice — per-word
    * counts are vocabulary-bounded, never corpus-bounded — and the
    * native TopKPerKey global heap selects k without a full sort.
    */
  def collocations(documents: DataFrame, minCount: Long = 5L,
                   k: Int = 20): DataFrame = {
    val bigrams = graft.functions.expressions.shingle_list(col("text"), 2)
    val bgCounts = documents.select(explode(bigrams).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val uni = documents.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val nUni = uni.agg(sum("c").as("n_uni"))
    val scored = bgCounts
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")).hint("shuffle_hash"), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")).hint("shuffle_hash"), "w2")
      .crossJoin(broadcast(nUni))
      .select(col("bg"), col("n"),
        round(log(col("n_uni").cast("double") * col("n") /
          (col("c1").cast("double") * col("c2"))), 4).as("pmi"))
    // global top-k through the same partial-heap operator: a constant
    // key makes only the pre-pruned numPartitions×k survivors reach
    // the single final heap — never the full bigram table
    val top = graft.plans.TopK.perKey(scored.withColumn("g", lit(0)),
      Seq("g"), Seq(col("pmi").desc, col("bg").asc), k)
    // rank over the heap's constant key: the frame is ≤ k rows by
    // construction, and the explicit (constant) partition documents
    // that — a partition-LESS window is indistinguishable from an
    // accidental whole-corpus sort, which is what PlanLint flags
    val w = Window.partitionBy("g").orderBy(col("pmi").desc, col("bg").asc)
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select("rk", "bg", "n", "pmi")
  }

  /** Per-doc n-gram NOVELTY against the whole corpus: the fraction
    * of a doc's distinct 3-gram shingles that the doc itself
    * introduces — i.e. whose minimum owning doc_id over the corpus
    * is this doc. Pairwise dedup misses diffuse redundancy (a doc
    * stitched from phrases of MANY other docs has low Jaccard with
    * each of them but near-zero novelty); this is the corpus-level
    * redundancy score quality filters threshold on. Ownership is a
    * deterministic min-agg — no ordering or seed — so the score is
    * identical on any engine and any partitioning.
    *
    * Scale shape: NO corpus-sized join anywhere — a doc's novel
    * count is just the owner table re-aggregated (min-agg keyed by
    * shingle, then count keyed by the winning doc), so every
    * exchange carries map-side-combined partials: per-shingle minima
    * one way, per-doc counts the other; the final join unifies two
    * doc-keyed aggregate frames (shuffled-hash, both linear in doc
    * count). Docs under 3 tokens have no shingles and drop out,
    * exactly as in the dedup family.
    */
  def novelty(documents: DataFrame): DataFrame = {
    val sh = graft.dedup.Dedup.shingles(documents)
    val owned = sh.groupBy("shingle").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(owned.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_shingles"), 4).as("novelty"))
  }

  def bigramLmScore(documents: DataFrame): DataFrame = {
    val bigrams = graft.functions.expressions.shingle_list(col("text"), 2)
    val docBg = documents
      .select(col("doc_id"), explode(bigrams).as("bg"))
    val bgCounts = docBg.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val uniCounts = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c_uni"))
    docBg
      .join(bgCounts, "bg")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uniCounts, col("w1") === col("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c_bg").cast("double") / col("c_uni"))), 4)
          .as("avg_logp"))
  }

  /** CCNet-shaped QUALITY BUCKETING — per-language head/middle/tail
    * terciles of an in-corpus bigram language-model score, the
    * curation construct behind "train on head, sample middle, drop
    * tail". Two disciplines make it bit-reproducible where the real
    * CCNet (fp perplexity) is not: (1) the document score is the
    * mean bigram CONDITIONAL PROBABILITY in exact integer ppm —
    * `ppm(w1 w2) = c(w1 w2)·10⁶ div c(w1 ·)` over corpus counts, a
    * per-doc sum of longs divided once, so scores are exact integers
    * in any aggregation order; (2) the tercile boundaries are exact
    * order statistics from the shared [[graft.ops.RankSelect]]
    * engine with integer basis-point ranks — no per-language sort
    * ever materializes. Cost: one bigram scan, model-keyed count
    * joins (the count tables ARE the model), one RankSelect over the
    * (lang, score) projection, one broadcast cuts join back. A doc
    * too short to score (< 2 tokens, zero bigrams) stays in the
    * output as an explicit `unscored` row — a curation pass that
    * silently drops rows poisons every downstream ratio.
    */
  /** Per-(doc, bigram) occurrence weights — shared by the model
    * build and the scoring join. Repeats ride the integer weight k
    * so the corpus-side join carries distinct keys per doc. */
  private[graft] def lmDocBg(documents: DataFrame): DataFrame =
    // per-doc counts fold INSIDE the generator (shingle_counts kernel
    // — guide §2.3 "aggregate before you shuffle"): the exploded
    // frame is born distinct-keyed per (doc, bg), so the corpus-wide
    // groupBy(doc, lang, bg) exchange the explode+count formulation
    // paid is gone entirely
    documents
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.expressions.shingle_counts(col("text"), 2))
          .as("s"))
      .select(col("doc_id"), col("lang"),
        col("s.g").as("bg"), col("s.k").as("k"))

  /** The (bg, ppm, c_bg) conditional-probability table in exact
    * integer ppm: `c(w1 w2)·10⁶ div c(w1 ·)` over corpus counts. The
    * raw count rides along so [[lmFit]]'s top-k cap orders by it
    * without re-running the vocabulary aggregate. `c_bg·10⁶` wraps
    * int64 once a bigram count passes ~9.2e12 — below a 100 TB
    * corpus's stop-word-prefix counts — so the product widens
    * through DECIMAL(38,0) (the coverage_ppm/tokenBudget
    * discipline); ppm itself is ≤ 10⁶ so the BIGINT alias is safe. */
  private[graft] def lmPpm(docBg: DataFrame): DataFrame = {
    val model = docBg.groupBy("bg").agg(sum("k").as("c_bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    // conditional denominator: bigram instances sharing the prefix
    val pref = model.groupBy("w1").agg(sum("c_bg").as("c_pref"))
    model.join(pref.hint("shuffle_hash"), "w1")
      .select(col("bg"),
        expr("CAST(CAST(c_bg AS DECIMAL(38,0)) * 1000000 " +
          "div c_pref AS BIGINT)").as("ppm"),
        col("c_bg"))
  }

  /** Per-doc exact-integer LM scores under a (bg, ppm) table. LEFT
    * join: a bigram absent from the model scores 0 ppm but still
    * counts in the denominator — with the full in-corpus model every
    * key matches (identical to the former inner join); under a
    * capped model ([[lmFit]]'s `topK`) this is what makes the batch
    * scores equal the streaming gate's, where past-cap bigrams score
    * 0 exactly like novel text. */
  private[graft] def lmScored(docBg: DataFrame, ppm: DataFrame): DataFrame =
    docBg.join(ppm.select("bg", "ppm").hint("shuffle_hash"),
        Seq("bg"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("k") * coalesce(col("ppm"), lit(0L))).as("sum_ppm"),
        sum("k").as("n_bigrams"))
      .withColumn("score_ppm", expr("sum_ppm div n_bigrams"))

  /** Per-language tercile cuts from the shared RankSelect engine. */
  private[graft] def lmCuts(scored: DataFrame): DataFrame = {
    val (sel, _) = RankSelect.at(
      scored.select(col("lang").as("g"), col("score_ppm").as("v")),
      bins = 256, RankSelect.intBin(256), bounds =>
        bounds
          .select(col("g"), col("n"),
            explode(array(lit(3333L), lit(6667L))).as("q_bp"))
          .select(col("g"), col("q_bp"),
            expr("(n - 1) * q_bp div 10000").as("r")))
    sel.groupBy(col("g").as("lang"))
      .agg(max(when(col("q_bp") === 3333L, col("v"))).as("b1"),
        max(when(col("q_bp") === 6667L, col("v"))).as("b2"))
  }

  /** The fitted gate artifact for the STREAMING twin
    * ([[graft.streaming.TextStreams.lmGateStream]]): the ppm table
    * collected to a driver map plus the per-language cuts frame for
    * the stream-static join. The map is bounded by [[lmFit]]'s
    * `topK` — bigrams outside it score 0 ppm, maximum surprise.
    */
  case class LmGateModel(ppm: Map[String, Long], cuts: DataFrame)

  /** Fit the [[LmGateModel]] batch-side — the out-of-band refresh
    * artifact of the anomalyStream contract.
    *
    * @param topK cap on the collected bigram vocabulary: the model
    *             keeps the `topK` highest-count bigrams (ties broken
    *             by bigram text — deterministic refit), selected by
    *             distributed top-k heaps (TakeOrderedAndProject),
    *             never a full sort. The default keeps everything —
    *             fine for a bounded domain; an open-web fit MUST cap
    *             (the bigram vocabulary grows with the corpus and
    *             this map lands on the driver and in every executor's
    *             broadcast). The tercile cuts are fitted on scores
    *             under the CAPPED model, so the stream's bucket
    *             boundaries describe the distribution it actually
    *             scores: past-cap bigrams contribute 0 ppm on both
    *             sides (see [[lmScored]]).
    */
  def lmFit(documents: DataFrame, topK: Int = Int.MaxValue): LmGateModel = {
    require(topK > 0, s"topK ($topK) must be positive")
    val docBg = lmDocBg(documents).localCheckpoint()
    val full = lmPpm(docBg) // lazy: referenced exactly once below
    // the kept (bg, ppm) table has two consumers (the cuts scoring
    // join + the driver collect) — that is what materializes, never
    // the full vocabulary-sized table the cap exists to avoid
    val ppm = (if (topK == Int.MaxValue) full
      else full.orderBy(col("c_bg").desc, col("bg").asc).limit(topK))
      .select("bg", "ppm")
      .localCheckpoint()
    val cuts = lmCuts(lmScored(docBg, ppm).localCheckpoint())
      .localCheckpoint()
    LmGateModel(
      ppm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, cuts)
  }

  /** Per-source QUALITY-DISTRIBUTION drift — which source's LM-score
    * distribution deviates from the rest of the corpus: a binned
    * two-sample Kolmogorov–Smirnov of each source's integer-ppm
    * scores against ALL OTHER sources ([[graft.ops.Events.drift]]'s
    * discipline pointed at the quality axis). A drifted source is
    * the one to re-crawl, re-filter, or re-weight before it skews
    * the mix — and the mean-based audits miss shape migrations
    * (bimodal template floods, tail growth) entirely.
    *
    * Exactness: scores are the integer-ppm LM scores (shared
    * [[lmScored]] model), binning is the integer-exact `div`
    * convention, both ECDFs stay exact integer cumulative counts on
    * a sources×bins dense grid (explicit zero bins — a silent gap
    * breaks the cumulative), the KS max compares the integer
    * cross-products `|cum_s·n_r − cum_r·n_s|`, and ONE 6dp division
    * lands at the end — so the statistic and the flag replay
    * bit-identically. The rest-of-corpus ECDF costs nothing extra:
    * it is the per-bin total minus the source's own counts, off the
    * same aggregate. Sub-bigram docs have no score and are outside
    * the population; a single-source corpus answers NULL (no rest
    * to compare against).
    */
  def qualityDrift(documents: DataFrame, bins: Int = 64,
                   tau: Double = 0.1): DataFrame = {
    require(bins > 0, s"bins ($bins) must be positive")
    // model + scoring both read the bigram frame; the checkpoint
    // trades one corpus-shuffle recompute for one serialize. An r13
    // A/B at sf0.1 measured the cut a wash (2.15s without vs 2.10s
    // with, at comparable load) — the ambient swing the r12 verdict
    // flagged lives in the multi-job chain itself, not this barrier
    val docBg = lmDocBg(documents).localCheckpoint()
    val sc = lmScored(docBg, lmPpm(docBg))
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("score_ppm").as("v"))
      .localCheckpoint() // bounds + binned both read the scored frame
    val bounds = sc.agg(min("v").as("lo"), max("v").as("hi"),
      count(lit(1)).as("n_total"))
    val binned = sc.crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"(v - lo) * $bins div (hi - lo + 1)"))
      .groupBy("source", "bin").agg(count(lit(1)).as("n"))
      .localCheckpoint() // grid + per-bin totals + per-source totals
    val grid = binned.select("source").distinct()
      .select(col("source"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
    val perBin = binned.groupBy("bin").agg(sum("n").as("tn"))
    val perSrc = binned.groupBy("source").agg(sum("n").as("ns"))
    val w = Window.partitionBy("source").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .join(binned.hint("shuffle_hash"), Seq("source", "bin"), "left")
      .join(broadcast(perBin), Seq("bin"), "left")
      .withColumn("cs", sum(coalesce(col("n"), lit(0L))).over(w))
      .withColumn("ct", sum(coalesce(col("tn"), lit(0L))).over(w))
      .join(broadcast(perSrc), Seq("source"))
      .crossJoin(broadcast(bounds.select(col("n_total"))))
      .withColumn("nr", col("n_total") - col("ns"))
      // DECIMAL-widened cross-products: cum·n products square the
      // corpus count and wrap int64 at scale (the graph_hits rule)
      .withColumn("num", expr(
        "abs(CAST(cs AS DECIMAL(38,0)) * nr - " +
          "(ct - cs) * CAST(ns AS DECIMAL(38,0)))"))
      .groupBy(col("source"), col("ns").as("n_docs"), col("nr"))
      .agg(max("num").as("ks_num"))
      .select(col("source"), col("n_docs"),
        when(col("nr") === 0, lit(null).cast("double"))
          .otherwise(round(col("ks_num").cast("double") /
            (col("n_docs").cast("double") * col("nr").cast("double")), 6))
          .as("ks"))
      .withColumn("drifted", col("ks") >= tau)
  }

  def lmBuckets(documents: DataFrame): DataFrame = {
    // the model build and the scoring join both read the bigram
    // frame — the corpus explode must not run twice
    val docBg = lmDocBg(documents).localCheckpoint()
    val ppm = lmPpm(docBg)
    val scored = lmScored(docBg, ppm)
      .localCheckpoint() // two consumers: the cuts fit + the output
    val cuts = lmCuts(scored)
    documents.select(col("doc_id"), col("lang"))
      .join(scored.drop("sum_ppm").hint("shuffle_hash"),
        Seq("doc_id", "lang"), "left")
      .join(broadcast(cuts), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("score_ppm"),
        when(col("score_ppm").isNull, lit("unscored"))
          .when(col("score_ppm") <= col("b1"), lit("tail"))
          .when(col("score_ppm") <= col("b2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }
}
