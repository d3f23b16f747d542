package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Text analysis for LLM data pipelines: language ID, quality
  * scoring, token counting, fingerprinting. All pure `functions._`
  * compositions (codegen'd, no UDFs), and all expressible in ANSI-ish
  * SQL so the DuckDB oracle can reproduce them bit-for-bit:
  * substring-occurrence counts use length/replace arithmetic (not
  * engine-specific regex), and the rolling hash uses ascii(substr)
  * with modular arithmetic that never overflows a signed 64-bit int.
  */
object TextAnalysis {

  /** # of occurrences of literal `s` in `text` via replace-length
    * arithmetic — identical semantics in every SQL engine.
    */
  def substrCount(text: Column, s: String): Column =
    ((length(text) - length(replace(text, lit(s), lit("")))) / s.length)
      .cast("long")

  /** ' '-padded lowercase text, so word-boundary markers like
    * " the " match at string edges too.
    */
  def padded(text: Column): Column = concat(lit(" "), lower(text), lit(" "))

  /** whitespace token count on single-space text:
    * (#separators + 1) computed by replace-length arithmetic.
    */
  def wsTokenCount(text: Column): Column =
    (length(trim(text)) - length(replace(trim(text), lit(" "), lit(""))) + 1)
      .cast("long")

  // ------------------------------------------------------------
  // language ID — stopword-marker heuristic (q29)
  // ------------------------------------------------------------

  /** Marker stopwords per language. Deliberately tiny: the point is
    * the *shape* of the operator (per-row marker scoring + argmax);
    * production swaps in real n-gram profiles (e.g. CLD3-style).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " und ", " die "),
    "en" -> Seq(" the ", " a ", " and "),
    "es" -> Seq(" el ", " y ", " la "),
    "fr" -> Seq(" le ", " et ", " les "))

  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(m => substrCount(padded(text), m)).reduce(_ + _)

  // ------------------------------------------------------------
  // quality score (q30)
  // ------------------------------------------------------------

  /** Stopword hits: en-marker occurrences (pipeline quality proxies
    * are language-specific; this scores the dominant corpus lang).
    */
  def stopwordHits(text: Column): Column =
    langScore(text, LangMarkers.toMap.apply("en"))

  /** NOTE on rounding: the ratio/quality columns are deliberately
    * UNROUNDED doubles. Both engines compute the identical IEEE-754
    * value from the same integer inputs, whereas a final round(_, 4)
    * is engine-specific at .xxxx5 boundaries (decimal HALF_UP vs
    * scaled-multiply) and breaks oracle parity.
    */
  def distinctTokenRatio(text: Column): Column =
    size(array_distinct(split(lower(text), " "))).cast("double") /
      size(split(lower(text), " "))

  def stopwordRatio(text: Column): Column =
    stopwordHits(text).cast("double") / wsTokenCount(text)

  /** Composite quality in [0,1]: length saturation, lexical
    * diversity, stopword plausibility — the standard cheap filters
    * (à la C4/Gopher rules) as one codegen'd expression.
    */
  def qualityScore(text: Column): Column =
    least(wsTokenCount(text).cast("double") / 100.0, lit(1.0)) * 0.5 +
      distinctTokenRatio(text) * 0.3 +
      least(stopwordRatio(text) * 5.0, lit(1.0)) * 0.2

  // ------------------------------------------------------------
  // token counting (q31)
  // ------------------------------------------------------------

  /** BPE-ish sub-token counts: runs of letters, runs of digits, and
    * non-alphanumeric-non-space chars each count as one token —
    * the classic pre-tokenizer split, counted without materializing
    * the tokens.
    */
  def alphaRunCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))).cast("long")

  def digitRunCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[0-9]+"), lit(0))).cast("long")

  def punctCharCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[^a-z0-9 ]"), lit(0))).cast("long")

  def bpeIshCount(text: Column): Column =
    alphaRunCount(text) + digitRunCount(text) + punctCharCount(text)

  // ------------------------------------------------------------
  // corpus statistics (q41/q42)
  // ------------------------------------------------------------

  /** Per-group corpus statistics: doc counts, exact token-count
    * percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`,
    * both linear-interpolated over the sorted values), and a
    * decimal-exact mean quality. One aggregation pass.
    */
  def corpusStats(docs: org.apache.spark.sql.DataFrame,
      textCol: String, groupCols: Seq[String]): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("__tok", wsTokenCount(col(textCol)))
      .withColumn("__q", qualityScore(col(textCol)).cast("decimal(18,8)"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(__tok, 0.5)").as("p50_tokens"),
        expr("percentile(__tok, 0.95)").as("p95_tokens"),
        (sum(col("__q")).cast("double") / count(lit(1))).as("avg_quality"))

  /** Top-k n-grams by raw occurrence count, ties broken by gram text
    * so the cut at rank k is deterministic.
    */
  def topNgrams(docs: org.apache.spark.sql.DataFrame, textCol: String, k: Int): org.apache.spark.sql.DataFrame =
    docs.select(explode(TextHashes.wordBigrams(col(textCol))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)

  // ------------------------------------------------------------
  // repetition scoring (q65) — Gopher-style repetition rule
  // ------------------------------------------------------------

  /** Fraction of bigram occurrences taken by the single most-repeated
    * bigram — the cheap repetition filter (a doc whose top 2-gram
    * covers >10–20% of it is boilerplate/spam under Gopher rules).
    * The max multiplicity is one per-row native hash-count loop (no
    * shuffle, unlike the explode+groupBy formulation, so scoring
    * 100 TB of docs is pure map-side work).
    */
  def repetitionRatio(text: Column): Column = {
    val n = size(TextHashes.wordBigrams(text))
    when(n === 0, lit(0.0))
      .otherwise(TextHashes.bigramMaxMultiplicity(text).cast("double") / n)
  }

  // ------------------------------------------------------------
  // quality filter funnel (q54)
  // ------------------------------------------------------------

  /** C4/Gopher-style filter funnel: rules apply in order and the
    * result reports survivors after each cumulative prefix — the
    * standard "how much data does each rule cost me" diagnostic.
    * ONE aggregate pass (conditional sums), regardless of rule count:
    * a 10-rule funnel over 100 TB is a single scan.
    *
    * Output: (stage, n_pass) with stage "0_input", "1_<rule>", ... —
    * index-prefixed so lexicographic order is application order.
    */
  def filterFunnel(
      docs: org.apache.spark.sql.DataFrame,
      rules: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    require(rules.nonEmpty, "filterFunnel needs at least one rule")
    val cumConds = rules.scanLeft(lit(true)) { case (acc, (_, c)) => acc && c }.tail
    val counters: Seq[(String, Column)] =
      ("0_input", count(lit(1))) +:
        rules.zip(cumConds).zipWithIndex.map { case (((name, _), cond), i) =>
          (s"${i + 1}_$name", sum(when(cond, 1L).otherwise(0L)))
        }
    val aggd = docs.agg(counters.head._2.as("c0"),
      counters.tail.zipWithIndex.map { case ((_, c), i) => c.as(s"c${i + 1}") }: _*)
    aggd.select(explode(array(counters.zipWithIndex.map { case ((stage, _), i) =>
        struct(lit(stage).as("stage"),
          coalesce(col(s"c$i"), lit(0L)).cast("long").as("n_pass"))
      }: _*)).as("r"))
      .select("r.*")
  }

  // ------------------------------------------------------------
  // PII scrubbing (q55)
  // ------------------------------------------------------------

  /** Conservative engine-portable patterns (RE2-safe: no lookaround,
    * no backrefs) — emails and long digit runs (phone-ish).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberRe = "[0-9]{7,}"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long")

  def longNumberCount(text: Column): Column =
    size(regexp_extract_all(text, lit(LongNumberRe), lit(0))).cast("long")

  /** Redact emails then long numbers (emails first — they contain
    * digits). Pure regexp_replace: codegen'd, no UDF.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), LongNumberRe, "<NUM>")

  /** IPv4 and SSN-shaped patterns for the PII INVENTORY (the audit
    * twin of redaction: compliance wants to know WHERE the PII lives
    * before deciding what to do with it). RE2-safe like the rest —
    * \b word boundaries, no lookaround — so DuckDB runs them
    * verbatim. Deliberately shape-based (999.999.999.999 matches):
    * an inventory overcounts rather than misses.
    */
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  def ipCount(text: Column): Column =
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).cast("long")

  def ssnCount(text: Column): Column =
    size(regexp_extract_all(text, lit(SsnRe), lit(0))).cast("long")

  /** Per-group PII inventory: occurrence totals and document
    * coverage per PII class. One codegen'd scan projection + one
    * partial-aggregated census.
    */
  def piiInventory(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(groupCol),
        emailCount(t).as("ne"), longNumberCount(t).as("nn"),
        ipCount(t).as("ni"), ssnCount(t).as("ns"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ne")).as("n_emails"),
        sum((col("ne") > 0).cast("long")).as("docs_with_email"),
        sum(col("nn")).as("n_numbers"),
        sum((col("nn") > 0).cast("long")).as("docs_with_number"),
        sum(col("ni")).as("n_ips"),
        sum((col("ni") > 0).cast("long")).as("docs_with_ip"),
        sum(col("ns")).as("n_ssns"),
        sum((col("ns") > 0).cast("long")).as("docs_with_ssn"))
  }

  // ------------------------------------------------------------
  // fingerprint (q32)
  // ------------------------------------------------------------

  /** Polynomial rolling hash over the character stream:
    * h ← (31·h + ascii(cᵢ)) mod 1e9+7. The modulus keeps every
    * intermediate < 2³⁵ (ANSI-safe); ascii() is engine-portable where
    * xxhash64 is not, so the DuckDB oracle can verify fingerprints
    * exactly. One per-row aggregate — no shuffle.
    */
  def rollingFingerprint(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(text)),
          i => ascii(text.substr(i, lit(1)))),
        lit(0L),
        (acc, c) => (acc * 31 + c) % 1000000007L))

  // ------------------------------------------------------------
  // TF-IDF keyword extraction (q84)
  // ------------------------------------------------------------

  /** BM25 ranked retrieval — the lexical-search counterpart of the
    * dense ANN family: score every document against a bag of query
    * terms and return the top `topK`.
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
    *                        (tf(t,d) + k1·(1 − b + b·|d|/avgLen))
    *   idf(t)   = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
    *
    * Determinism across engines: each per-term score is rounded to
    * 9 decimals and summed as DECIMAL — decimal addition is exact
    * and order-independent, so the shuffle's reduction order can't
    * flip ranks the way a double sum could. Ranking is on the
    * rounded total with doc_id tiebreak.
    *
    * 100 TB shape: the term filter is a scan-level IN predicate
    * (only query-term postings survive the explode), tf/df are
    * partial-aggregatable groupBys, the df side is |terms| rows
    * (broadcast), and top-k is TakeOrdered — no global sort
    * materializes.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && topK > 0, "need terms and topK > 0")
    val lens = docs.select(col(idCol).as("doc_id"),
      wsTokenCount(col(textCol)).as("len"))
    val corpus = docs.agg(count(lit(1)), sum(wsTokenCount(col(textCol)))).head()
    val n = corpus.getLong(0)
    // guard BEFORE reading the sum: with zero docs the sum is null
    // (NPE on getLong) and avgLen would divide by zero
    require(n > 0, "bm25Search: empty corpus")
    val avgLen = corpus.getLong(1).toDouble / n
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val termScore = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / lit(avgLen)))
    tf.join(broadcast(dfreq), "term")
      .join(lens, "doc_id")
      .withColumn("s", round(termScore, 9).cast("decimal(28,9)"))
      .groupBy("doc_id")
      .agg(sum(col("s")).cast("double").as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Top-`k` keywords per document by TF-IDF:
    * score = tf(d, w) · ln((N+1) / (df(w)+1)), ranked per doc by
    * (round(score, 9) desc, word). Ranking on the ROUNDED score keeps
    * the ordering engine-portable: a 1-ulp ln() difference can only
    * flip the order of true ties, and those break on the word.
    *
    * 100 TB shape: tf is a partial-aggregatable groupBy on
    * (doc, word); df is a second partial agg over tf's output (one
    * row per distinct (doc, word) — already deduplicated, so a stop
    * word's count arrives pre-combined per partition); the join back
    * to score is on `word` against a |vocab|-row side that AQE
    * broadcasts when it fits. The per-doc top-k window partitions by
    * doc_id — parallel, bounded by one doc's vocabulary. `nDocs` is
    * the corpus doc count (one cheap count, or a known catalog stat).
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      nDocs: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "word")
      .withColumn("score",
        round(col("tf") * log((lit(nDocs) + 1).cast("double") / (col("df") + 1)), 9))
    val rank = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("word"))
    scored.withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"),
        col("df"), col("score"))
  }

  // ------------------------------------------------------------
  // document chunking (RAG / context-window prep)
  // ------------------------------------------------------------

  /** Split each document into fixed-size overlapping token windows —
    * the retrieval-corpus/context-window prep step (`window` tokens
    * per chunk, stride `step` = window − overlap). Emits one row per
    * chunk: (…input cols…, chunk_id, chunk_text, chunk_tokens).
    *
    * Chunk c covers tokens [c·step, c·step + window); the last chunk
    * may be short but is never empty, and a doc with ≤ `window`
    * tokens yields exactly one chunk (itself). Whitespace tokens —
    * same tokenizer as wsTokenCount/truncation, and the whole thing
    * is a per-row `sequence` + `transform` + `posexplode`: a pure
    * scan-level expression, zero shuffles, so chunking 100 TB is one
    * pass that composes with any downstream groupBy/write.
    */
  def chunk(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      step: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(step > 0 && step <= window,
      s"step must be in [1, window], got $step (window $window)")
    val toks = split(trim(col(textCol)), "\\s+")
    // number of chunks: 1 + ceil(max(n - window, 0) / step)
    val n = size(toks)
    val nChunks = lit(1) + ceil(greatest(n - window, lit(0))
      .cast("double") / step).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      c => concat_ws(" ", slice(toks, c * step + 1, lit(window))))
    docs
      .withColumn("__chunks", chunks)
      .select(col("*"), posexplode(col("__chunks")).as(Seq("chunk_id", "chunk_text")))
      .drop("__chunks")
      .withColumn("chunk_tokens", wsTokenCount(col("chunk_text")))
  }

  /** Per-document lexical-diversity profile — the Gopher-family
    * signals that need token MULTIPLICITIES, not just counts:
    * type-token ratio, hapax-legomenon count (tokens occurring
    * exactly once in the doc — low hapax share flags template/
    * boilerplate text), and mean token length. `distinctTokenRatio`
    * above is the scan-level single-doc form; this is the two-phase
    * explode → (doc, token) partial agg → per-doc rollup, so a
    * pathological million-token document costs one keyed shuffle of
    * (doc, token, count) triples, never an O(n²) per-row loop.
    */
  def lexicalStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val cnt = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"), sum(length(col("tok"))).as("lsum"))
    cnt.groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        count(when(col("c") === 1, 1)).as("n_hapax"),
        sum("lsum").cast("long").as("n_chars"))
      .withColumn("ttr",
        round(col("n_distinct").cast("double") / col("n_tokens"), 9))
      .withColumn("mean_len",
        round(col("n_chars").cast("double") / col("n_tokens"), 9))
  }
}
