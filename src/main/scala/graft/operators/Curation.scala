package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: intra-document
  * repetition statistics (the repetition quality filters popularized by the
  * Gopher/MassiveText data work) and deterministic hash-based stratified
  * sampling / source mixing.
  *
  * Scale shape: `repetitionStats` is explode → two-level hash aggregate —
  * the n-gram key is (doc, gram) so partial aggregation collapses each
  * document's grams map-side and the one shuffle carries near-deduplicated
  * rows; sampling is a pure map-side filter (no shuffle, no RNG state —
  * the keep decision is a function of the id alone, so re-runs, retries
  * and incremental loads all agree on every row).
  */
object Curation {

  /** One (id, __gram) row per word `n`-gram of `textCol` — the shared
    * tokenization contract behind [[repetitionStats]] and
    * [[contaminationStats]] (whitespace runs collapse to one space,
    * text is trimmed, docs shorter than `n` words produce no rows).
    * `__words`/`__gram` are reserved working-column names: an input
    * that already carries either would be clobbered, so it is rejected. */
  private def wordGrams(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    Seq("__words", "__gram").foreach(c => require(!docs.columns.contains(c),
      s"input column '$c' collides with an n-gram working column"))
    val gramExpr = (0 until n).map(j => s"__words[i + $j]").mkString(", ")
    docs
      .withColumn("__words",
        split(regexp_replace(trim(col(textCol)), "[ \\t\\n\\x0B\\f\\r]+", " "), " "))
      .where(size(col("__words")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__words) - $n), " +
          s"i -> concat_ws(' ', $gramExpr))")).as("__gram"))
  }

  /** [[wordGrams]] that KEEPS gramless documents: a doc with fewer than
    * `n` words emits exactly one `(idCol, NULL)` row (`explode_outer`
    * over an empty gram array — the size guard must be a CASE, not a
    * filter, because `sequence(0, size - n)` runs DESCENDING when
    * `size < n`). Lets per-doc aggregates over the gram table cover
    * every input doc in the SAME pass, replacing the second corpus scan
    * + id-keyed restore join the contamination stats used to pay
    * (r18, guide §2.4 remove shuffles outright): a NULL gram never
    * equi-joins and `count(__gram)` skips it, so totals and hit counts
    * are unchanged. */
  private def wordGramsOuter(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    Seq("__words", "__gram").foreach(c => require(!docs.columns.contains(c),
      s"input column '$c' collides with an n-gram working column"))
    val gramExpr = (0 until n).map(j => s"__words[i + $j]").mkString(", ")
    docs
      .withColumn("__words",
        split(regexp_replace(trim(col(textCol)), "[ \\t\\n\\x0B\\f\\r]+", " "), " "))
      .select(col(idCol), explode_outer(expr(
        s"CASE WHEN size(__words) >= $n THEN " +
          s"transform(sequence(0, size(__words) - $n), " +
          s"i -> concat_ws(' ', $gramExpr)) " +
          s"ELSE CAST(array() AS ARRAY<STRING>) END")).as("__gram"))
  }

  /** Split documents into fixed-size token windows with overlap — the
    * chunking pass that precedes embedding or context packing (RAG
    * indexing, pretraining with long documents). Windows start every
    * `chunkTokens - overlapTokens` tokens and run to
    * `min(start + chunkTokens, n)`; a document shorter than one chunk
    * yields one (short) chunk; an empty document yields none.
    *
    * Map-only: tokenize → `posexplode` the window starts → slice. No
    * shuffle — chunking 100 TB is exactly one pass, and the downstream
    * consumer chooses its own partitioning. Deterministic (window
    * geometry is a pure function of the token count), so re-runs and
    * incremental loads chunk identically.
    */
  def chunk(docs: DataFrame, chunkTokens: Int, overlapTokens: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlapTokens")
    // the chunks ARE the content a consumer trains on, so the text is
    // split verbatim — no lowercasing/normalization (that belongs to
    // the HASHING operators, where only equality matters)
    Seq("__toks", "__n", "chunk_idx", "chunk_start", "chunk",
      "n_chunk_tokens").foreach(c => require(!docs.columns.contains(c),
      s"input column '$c' collides with a chunk working/output column"))
    val stride = chunkTokens - overlapTokens
    docs
      .withColumn("__toks",
        expr(s"filter(split(trim($textCol), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), " +
          "t -> length(t) > 0)"))
      .withColumn("__n", size(col("__toks")))
      .where(col("__n") > 0)
      .select(col(idCol),
        // upper bound n-1-overlap: a start past it would yield a window
        // fully contained in its predecessor (the useless tail fragment)
        posexplode(expr(
          s"sequence(0, greatest(__n - 1 - $overlapTokens, 0), $stride)"))
          .as(Seq("chunk_idx", "chunk_start")),
        col("__toks"), col("__n"))
      .select(col(idCol), col("chunk_idx"), col("chunk_start"),
        expr(s"slice(__toks, chunk_start + 1, $chunkTokens)").as("chunk"),
        col("__n"))
      .withColumn("n_chunk_tokens", size(col("chunk")))
      .drop("__n")
  }

  /** Deterministic epoch shuffle: the training-order permutation as a
    * pure function of (epoch, id) — an md5 rank key, so every epoch
    * reshuffles differently, re-runs and retries replay the identical
    * order, and no RNG state exists anywhere (the same discipline as
    * [[stratifiedSample]]). Map-only: this ADDS the key; the consumer
    * chooses how to realize the order — a global sort for a single
    * sequential reader, or range-partition on `shuffle_key` +
    * sort-within-partitions for parallel shard writers (the scalable
    * form: no single-task sort). */
  def epochShuffle(df: DataFrame, epoch: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(!df.columns.contains("shuffle_key"),
      "input column 'shuffle_key' collides with the shuffle output column")
    df.withColumn("shuffle_key",
      md5(concat(lit(epoch.toString), lit(":"), col(idCol).cast("string"))))
  }

  /** Per-document word `n`-gram repetition statistics:
    *
    *   - `n_grams`: total n-grams in the document
    *   - `dup_grams`: n-grams belonging to a gram value that occurs more
    *     than once (the "fraction of characters in duplicated n-grams"
    *     family of filters, counted in grams)
    *   - `top_gram_n`: occurrences of the most frequent gram (the "top
    *     n-gram fraction" numerator)
    *
    * Documents with fewer than `n` words produce no row (see
    * [[wordGrams]] for the shared tokenization contract and reserved
    * column names). Callers derive boolean quality flags by
    * thresholding (see `q_repetition`).
    */
  def repetitionStats(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    wordGrams(docs, textCol, idCol, n)
      .groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__cnt")).as("n_grams"),
        sum(when(col("__cnt") > 1, col("__cnt")).otherwise(0L))
          .as("dup_grams"),
        max(col("__cnt")).as("top_gram_n"))
  }

  /** Composed document-level quality GATE — the Gopher rules (Rae et
    * al. 2021, arXiv:2112.11446 §A1.1) as ONE call producing keep/drop
    * plus the ordered reason list, so a pipeline runs a single gate and
    * a report can break drops down by cause. The individual signals
    * exist separately (q_text_quality, repetitionStats, lmCoverage);
    * this is the published rule BUNDLE with the published thresholds as
    * defaults.
    *
    * Integer-exact by construction: every ratio threshold is spelled as
    * an integer cross-multiplication (e.g. mean word length < 3 ⇔
    * `sum_word_chars < 3 * n_words`), so any engine replaying the same
    * counts produces the identical keep set — no float division
    * anywhere. Rules, in the emitted reason order:
    *
    *   - `too_few_words` / `too_many_words`: word count outside
    *     [minWords, maxWords] (paper: 50..100k).
    *   - `word_length`: mean word length outside [3, 10] chars.
    *   - `symbol_ratio`: '#' occurrences × 10 > n_words OR ellipsis
    *     occurrences × 10 > n_words — the paper's 0.1 symbol-to-word
    *     threshold applied to each symbol separately (Rae et al.
    *     §A1.1), not to their sum.
    *   - `bullet_lines`: lines starting with a bullet × 10 > 9 × lines
    *     (paper: > 90%).
    *   - `ellipsis_lines`: lines ending with "..." × 10 > 3 × lines
    *     (paper: > 30%).
    *   - `alpha_words`: words containing an alphabetic char × 5 <
    *     4 × n_words (paper: < 80%).
    *   - `stopwords`: fewer than `minStopwords` of the paper's 8-word
    *     list {the, be, to, of, and, that, have, with} present.
    *   - `repetition`: duplicate `repN`-gram mass × 5 > total grams
    *     (paper's dup-n-gram family at the 20% point, via
    *     [[repetitionStats]] — the one non-map-side signal; its hash
    *     aggregate joins back on `idCol`).
    *   - `encoding`: mojibake/transport damage — U+FFFD replacement
    *     chars plus stray C0 controls (excluding \t \n \r and the two
    *     whitespace-class members) plus C1 controls, × 1000 >
    *     codepoints (0.1% — a real document has essentially none; the
    *     ftfy-class drop every crawl pipeline runs).
    *
    * Scale shape: everything except the repetition join is map-side
    * expressions over the text column; the repetition leg is
    * [[repetitionStats]]'s two-level hash aggregate. One corpus scan,
    * one (idCol)-keyed join, no other shuffle.
    *
    * @return input columns + (n_words, keep (0/1 int), reasons —
    *         comma-joined in rule order, empty string = clean)
    */
  def qualityGate(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minStopwords: Int = 2,
      repN: Int = 3): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"need 0 <= minWords <= maxWords, got $minWords..$maxWords")
    require(minStopwords >= 0, "minStopwords must be >= 0")
    val t = col(textCol)
    // explicit whitespace class (q_sentence_stats discipline: \s differs
    // across engines on U+000B) and explicit newline split for lines
    val words = split(trim(t), "[ \\t\\n\\x0B\\f\\r]+")
    val lines = filter(transform(split(t, "\n"), x => trim(x)),
      x => x =!= lit(""))
    val gated = docs
      .withColumn("__w", words)
      .withColumn("__l", lines)
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("__wchars",
        expr("aggregate(__w, CAST(0 AS BIGINT), (a, x) -> a + length(x))"))
      .withColumn("__hashc", regexp_count(t, lit("#")).cast("long"))
      .withColumn("__ellsym",
        regexp_count(t, lit("\\.\\.\\.|…")).cast("long"))
      .withColumn("__bullet", size(filter(col("__l"),
        x => x.rlike("^[•\\-\\*]"))).cast("long"))
      .withColumn("__ellip", size(filter(col("__l"),
        x => x.rlike("(\\.\\.\\.|…)$"))).cast("long"))
      .withColumn("__alpha", size(filter(col("__w"),
        x => lower(x).rlike("[a-z]"))).cast("long"))
      .withColumn("__nlines", size(col("__l")).cast("long"))
      // presence, not count, is what the rule needs (r18 codegen audit):
      // rlike stops at the FIRST match where regexp_count scanned the
      // whole document per stopword — 8 full-text regex passes become 8
      // early-exit probes over ONE shared lowercased copy (lower(t) per
      // stopword re-lowercased the text 8 times)
      .withColumn("__lower", lower(t))
      .withColumn("__stop",
        QualityStopwords.map(w =>
          when(col("__lower").rlike("\\b" + w + "\\b"), 1)
            .otherwise(0))
          .reduce(_ + _))
      .withColumn("__badenc",
        regexp_count(t,
          lit("[\uFFFD\u0000-\u0008\u000E-\u001F\u0080-\u009F]"))
          .cast("long"))
    val rep = repetitionStats(docs, textCol, idCol, repN)
      .select(col(idCol), col("n_grams").as("__ng"),
        col("dup_grams").as("__dg"))
    val reasons = array(
      when(col("n_words") < minWords, lit("too_few_words")),
      when(col("n_words") > maxWords, lit("too_many_words")),
      when(col("__wchars") < lit(3L) * col("n_words") ||
        col("__wchars") > lit(10L) * col("n_words"), lit("word_length")),
      // Gopher applies the 0.1 symbol-to-word threshold to EACH symbol
      // ('#', '...') separately, not to their sum (Rae et al. §A1.1) —
      // the summed form was strictly more aggressive than the paper
      when(col("__hashc") * 10L > col("n_words") ||
        col("__ellsym") * 10L > col("n_words"), lit("symbol_ratio")),
      when(col("__bullet") * 10L > col("__nlines") * 9L,
        lit("bullet_lines")),
      when(col("__ellip") * 10L > col("__nlines") * 3L,
        lit("ellipsis_lines")),
      when(col("__alpha") * 5L < col("n_words") * 4L, lit("alpha_words")),
      when(col("__stop") < minStopwords, lit("stopwords")),
      when(coalesce(col("__dg"), lit(0L)) * 5L >
        coalesce(col("__ng"), lit(0L)), lit("repetition")),
      when(col("__badenc") * 1000L > length(t).cast("long"),
        lit("encoding")))
    gated
      .join(rep, Seq(idCol), "left")
      .withColumn("reasons",
        array_join(filter(reasons, x => x.isNotNull), ","))
      .withColumn("keep",
        when(col("reasons") === "", 1).otherwise(0))
      .drop("__w", "__l", "__lower", "__wchars", "__hashc", "__ellsym",
        "__bullet", "__ellip",
        "__alpha", "__nlines", "__stop", "__badenc", "__ng", "__dg")
  }

  /** The 8 paper stopwords of [[qualityGate]]'s stopword rule. */
  val QualityStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-stratum curation report over a [[qualityGate]] output — what a
    * pipeline publishes after the gate (the reference's report-sink
    * shape, `ingester.py` reporter, applied to curation): per stratum,
    * document and word totals vs kept, plus one drop-count column per
    * gate rule. One hash aggregate; reason containment tests are
    * map-side (reasons is the gate's comma-joined rule-order string, so
    * a simple membership test per fixed rule name is exact). */
  def curationReport(gated: DataFrame,
      stratumCol: String = "source"): DataFrame = {
    val reasonCols = Seq("too_few_words", "too_many_words", "word_length",
      "symbol_ratio", "bullet_lines", "ellipsis_lines", "alpha_words",
      "stopwords", "repetition", "encoding").map { r =>
      sum(when(array_contains(split(col("reasons"), ","), r), 1L)
        .otherwise(0L)).as(s"n_$r")
    }
    val aggCols = Seq(
      sum(col("keep").cast("long")).as("docs_kept"),
      sum(col("n_words")).as("words_total"),
      sum(col("n_words") * col("keep")).as("words_kept")) ++ reasonCols
    gated.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("docs_total"), aggCols: _*)
  }

  /** Sequence packing: place documents into fixed-capacity token bins in
    * `idCol` order — the pretraining "concatenate the token stream, cut
    * every `capacity` tokens" layout. Each doc gets the bin where its
    * first token lands (`bin = tokens_before DIV capacity`) plus its
    * offset inside that bin; a doc straddling a boundary continues into
    * the next bin, exactly like the flattened stream.
    *
    * Scalable spelling: tokens_before is a TWO-LEVEL prefix sum, not a
    * global-order window (which would sort the corpus in ONE task). Docs
    * are range-bucketed by `idCol DIV rangeSize` (map-side); per-bucket
    * totals (corpus_size / rangeSize rows — tiny) get a running offset
    * in one small window; within-bucket prefix sums are per-bucket
    * windows whose partition size is bounded by `rangeSize`. Parallelism
    * follows data, and the result is identical to the global cumsum an
    * oracle computes directly.
    *
    * `__bucket` is a reserved working-column name (input rejected if
    * present). `idCol` values must be unique — the stream position of a
    * duplicated id would depend on intra-window row order, which Spark
    * does not define.
    *
    * @return input columns + (tokens_before, bin, bin_offset)
    */
  def packBins(
      docs: DataFrame,
      tokensCol: String,
      idCol: String = "doc_id",
      capacity: Long = 2048L,
      rangeSize: Long = 4096L): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(rangeSize > 0, s"rangeSize must be positive, got $rangeSize")
    require(!docs.columns.contains("__bucket"),
      "input column '__bucket' collides with a packBins working column")
    import org.apache.spark.sql.expressions.Window
    val bucketed = docs.withColumn("__bucket",
      expr(s"$idCol DIV $rangeSize"))
    val wBuckets = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__bucket"))
      .agg(sum(col(tokensCol).cast("long")).as("__btot"))
      .withColumn("__boff",
        coalesce(sum(col("__btot")).over(wBuckets), lit(0L)))
      .drop("__btot")
    val wInBucket = Window.partitionBy(col("__bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-safe join key (<=>): a NULL idCol row lands in a null
    // __bucket — a plain equi-join would DROP it from the output while
    // its token count still inflated every later bucket's __boff (the
    // hazard tokenBudget's null-safe join documents). Null buckets sort
    // first in both the cumsum window and this join, so the global
    // cumsum stays exactly the one an oracle computes with NULLS FIRST.
    bucketed
      .join(broadcast(offsets.withColumnRenamed("__bucket", "__obucket")),
        col("__bucket") <=> col("__obucket"))
      .withColumn("tokens_before", col("__boff") +
        coalesce(sum(col(tokensCol).cast("long")).over(wInBucket), lit(0L)))
      .withColumn("bin", expr(s"tokens_before DIV $capacity"))
      .withColumn("bin_offset", col("tokens_before") % capacity)
      .drop("__bucket", "__obucket", "__boff")
  }

  /** Per-source token-budget selection — the "take N tokens from each
    * source" step that turns a curated corpus plus a mixture recipe
    * into a training set: within every `sourceCol` group, documents are
    * taken in `idCol` order until the group's running token total
    * reaches `budget`. A document is kept iff the tokens BEFORE it are
    * still under budget, so selection always makes progress and the
    * overshoot is bounded by one document (the standard greedy fill;
    * a never-exceed variant is `kept AND tokens_before + n <= budget`
    * on the returned columns).
    *
    * The running total is the same TWO-LEVEL prefix sum as [[packBins]]
    * — range-bucketed map-side, per-(source, bucket) totals cumulated
    * in a window bounded by buckets-per-source, within-bucket windows
    * bounded by `rangeSize` — never a one-task global sort, and
    * bit-identical to the per-source cumulative window an oracle
    * computes directly. Deterministic: the keep set is a pure function
    * of (id order, token counts), so retries, re-runs and incremental
    * loads agree on every row.
    *
    * `__bucket` is a reserved working-column name (input rejected if
    * present); `idCol` values must be unique, as in [[packBins]].
    *
    * @return input columns + (tokens_before, kept ∈ {0,1})
    */
  def tokenBudget(
      docs: DataFrame,
      budget: Long,
      tokensCol: String,
      sourceCol: String = "source",
      idCol: String = "doc_id",
      rangeSize: Long = 4096L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(rangeSize > 0, s"rangeSize must be positive, got $rangeSize")
    require(!docs.columns.contains("__bucket"),
      "input column '__bucket' collides with a tokenBudget working column")
    import org.apache.spark.sql.expressions.Window
    val bucketed = docs.withColumn("__bucket",
      expr(s"$idCol DIV $rangeSize"))
    val wBuckets = Window.partitionBy(col(sourceCol))
      .orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col(sourceCol), col("__bucket"))
      .agg(sum(col(tokensCol).cast("long")).as("__btot"))
      .withColumn("__boff",
        coalesce(sum(col("__btot")).over(wBuckets), lit(0L)))
      .drop("__btot")
    val wInBucket = Window.partitionBy(col(sourceCol), col("__bucket"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // NULL-SAFE join keys: a NULL source is a legitimate group (window
    // partitioning and groupBy both treat NULLs as one group) — a plain
    // equi-join would silently drop those rows from the output
    val joined = bucketed.join(broadcast(offsets),
      bucketed(sourceCol) <=> offsets(sourceCol) &&
        bucketed("__bucket") <=> offsets("__bucket"))
      .drop(offsets(sourceCol)).drop(offsets("__bucket"))
    joined
      .withColumn("tokens_before", col("__boff") +
        coalesce(sum(col(tokensCol).cast("long")).over(wInBucket), lit(0L)))
      .withColumn("kept",
        when(col("tokens_before") < budget, lit(1L)).otherwise(lit(0L)))
      .drop("__bucket", "__boff")
  }

  /** PII scrub patterns applied by [[redact]], in order. Kept inside the
    * Java-regex ∩ RE2 common subset (no backrefs, no lookaround) so any
    * engine — including the DuckDB oracle — replays the identical
    * redaction byte for byte. Order matters (emails are eaten before the
    * phone pattern can chew on their digits) and is part of the
    * contract. */
  val RedactPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>",
    "\\+?[0-9][0-9()\\- ]{7,}[0-9]" -> "<PHONE>")

  /** Eval-set decontamination: per corpus document, how many of its word
    * `n`-grams appear anywhere in `evalSet` — the overlap check run
    * before training so benchmark text does not leak into the corpus
    * (docs with `n_hits > 0` are dropped or audited).
    *
    * Shape: the eval side's distinct grams are SMALL (eval sets are MBs
    * even when the corpus is 100 TB) and broadcast; corpus grams are
    * generated map-side (same explode as [[repetitionStats]]) and
    * semi-matched by a broadcast left join, so the corpus itself never
    * shuffles — the only exchange carries per-doc hit counts. Word
    * splitting matches [[repetitionStats]] (`\s+`, trimmed), and
    * `__words`/`__gram` are reserved working-column names.
    *
    * @return one row per corpus doc: (idCol, n_grams, n_hits)
    */
  def contaminationStats(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val evalGrams = wordGrams(evalSet, textCol, idCol, n)
      .select("__gram").distinct()
    // gramless docs ride the SAME pass as one NULL-gram row
    // ([[wordGramsOuter]]) instead of a second corpus scan + id-keyed
    // restore join: count(__gram) skips the NULL, the NULL key never
    // matches the broadcast — identical rows, one scan and one join
    // fewer (r18, guide §2.4)
    wordGramsOuter(corpus, textCol, idCol, n)
      .join(broadcast(evalGrams.withColumn("__hit", lit(1))),
        Seq("__gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__gram")).as("n_grams"),
        // a NULL-gram row never matched, so its coalesced __hit is 0 —
        // no special-casing needed
        sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      // sum() is nullable in the schema even though every group has
      // rows; keep the old restore-join projection's non-null columns
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** The REVERSE direction of [[contaminationStats]] — the per-eval-
    * sample integrity report a benchmark owner publishes: for each eval
    * document, how many of ITS distinct n-grams occur anywhere in the
    * training corpus, and how many distinct corpus documents share at
    * least one gram with it. `contaminationStats` answers "which corpus
    * docs should I drop"; this answers "which eval samples are already
    * compromised no matter what I drop" — both directions are needed to
    * certify a benchmark against a trained corpus.
    *
    * Scale shape: the eval side is small and broadcasts; corpus grams
    * are generated map-side and REDUCED BY THE SEMI-JOIN FIRST (only
    * grams the eval set contains survive), so the wide aggregate sees
    * eval-matching rows only — never a corpus-sized shuffle.
    *
    * @return (eval_id, n_grams, n_contaminated_grams, n_corpus_docs) —
    *   gramless eval docs keep a zero row
    */
  def evalContaminationReport(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // pinned ONCE (r18): the matches broadcast and the totals aggregate
    // both read the distinct eval grams; unpinned, each re-ran the eval
    // explode+distinct (the contaminationStatsBloom discipline — the
    // pin rides the returned frame, released by the harnesses'
    // unpersist-all or GC)
    val eg = Checkpoints.pin(wordGrams(evalSet, textCol, idCol, n)
      .select(col(idCol).as("eval_id"), col("__gram")).distinct())
    // NO corpus-side distinct (r18, guide §2.3 aggregate after the
    // selective join, not before): both output measures are
    // countDistinct, which is duplicate-insensitive, so pre-deduping
    // corpus grams paid a CORPUS-SIZED exchange to dedup rows of which
    // only the eval-matching sliver survives the broadcast join — the
    // multi-distinct aggregate now dedups the matched rows only
    val cg = wordGrams(corpus, textCol, idCol, n)
      .select(col(idCol).as("__corpus_id"), col("__gram"))
    val matches = cg.join(broadcast(eg), Seq("__gram"))
    val agg = matches.groupBy(col("eval_id"))
      .agg(countDistinct(col("__gram")).as("n_contaminated_grams"),
        countDistinct(col("__corpus_id")).as("n_corpus_docs"))
    val totals = eg.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
    evalSet.select(col(idCol).as("eval_id"))
      .join(totals, Seq("eval_id"), "left")
      .join(agg, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated_grams"), lit(0L))
          .as("n_contaminated_grams"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"))
  }

  /** [[contaminationStats]] with a Bloom-filter prefilter on the corpus
    * side — the shape that survives an eval/reference set too large to
    * broadcast as an exact set. The filter ([[Bloom.buildWithKnownCount]]
    * over the pinned distinct eval grams, ~10 bits/gram) rides the plan
    * as a literal bit array;
    * corpus grams first pass the no-false-negative `mightContain`
    * probe (map-side, codegen'd, kills ~99% of non-members), and only
    * the survivors meet the exact broadcast semi-join that removes
    * Bloom false positives. Result is therefore IDENTICAL to
    * [[contaminationStats]] — the filter changes how much work the
    * confirm join sees, not the answer — which is exactly what the
    * shared oracle checks.
    *
    * Per-doc totals (`n_grams`) ride the SAME gram pass: instead of
    * filtering non-members out (which would force a second
    * gram-generation pass just to count totals — gram explosion is the
    * expensive leg, measured at 2× the whole query), the probe NULLS
    * the confirm join's key for provable non-members. Null keys never
    * match an equi-join and skip the broadcast hash probe, so the
    * exact join still only does ~1% of the lookups while every gram
    * row carries its doc id to the one per-doc aggregate.
    *
    * @return one row per corpus doc: (idCol, n_grams, n_hits)
    */
  def contaminationStatsBloom(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      bitsPerKey: Int = 10,
      numHashes: Int = 3): DataFrame = {
    // ONE eval gram explode+distinct for all three consumers (r18,
    // guide §1.2): the filter's sizing count, the filter's bit
    // positions, and the confirm join's broadcast previously derived
    // the distinct eval grams from scratch twice (Bloom.build persisted
    // its own copy for count+fill; the broadcast re-ran explode +
    // distinct at the caller's action). The pin is the distinct gram
    // table — the narrowest form of the eval side — and rides the
    // returned frame (the keepAboveQuantile discipline: released by the
    // harnesses' unpersist-all or ContextCleaner GC, since the
    // broadcast leg materializes at the caller's action).
    val evalGrams = Checkpoints.pin(wordGrams(evalSet, textCol, idCol, n)
      .select("__gram").distinct())
    val bloom =
      try Bloom.buildWithKnownCount(evalGrams, "__gram", evalGrams.count(),
        bitsPerKey, numHashes, assumeDistinct = true)
      catch { case e: Throwable => Checkpoints.release(evalGrams); throw e }
    // gramless docs ride the same pass as one NULL-gram row
    // ([[wordGramsOuter]]): a NULL gram probes the filter harmlessly
    // (xxhash64 skips null children; whatever __k it yields is NULL
    // because the gram is), never matches the confirm join, and is
    // skipped by count(__gram) — identical rows to the old second
    // corpus scan + id-keyed restore join, one scan and one join fewer
    wordGramsOuter(corpus, textCol, idCol, n)
      .withColumn("__k",
        when(bloom.mightContain(col("__gram")), col("__gram")))
      .join(broadcast(evalGrams
        .select(col("__gram").as("__k"), lit(1).as("__hit"))),
        Seq("__k"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__gram")).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("n_hits"))
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Language-model coverage scoring — the integer-exact cousin of the
    * CCNet/Wikipedia-LM perplexity quality filter: learn the corpus's
    * `vocabSize` most frequent word `n`-grams, then score every document
    * by how much of it is made of those frequent grams. Gibberish, OCR
    * noise and non-prose score low; ordinary prose scores high. All
    * outputs are integers (gram counts and an integer-division
    * percentage), so the decision replays bit-identically anywhere —
    * no floating-point log-probabilities to drift across engines.
    *
    * Shape: vocabulary selection is one hash aggregate over corpus grams
    * followed by a top-K (`TakeOrderedAndProject` — K rows to the
    * driver, never the gram table); scoring broadcasts the K-row vocab
    * into a map-side join against grams generated in place, so the
    * corpus never shuffles — the only exchange carries per-doc counts
    * (the [[contaminationStats]] discipline, with the vocabulary learned
    * from the corpus itself instead of supplied). Ties at the vocabulary
    * boundary break deterministically by (count DESC, gram ASC).
    *
    * @return one row per doc:
    *         (idCol, n_grams, n_known, coverage_pct ∈ [0,100])
    */
  def lmCoverage(
      docs: DataFrame,
      n: Int = 2,
      vocabSize: Int = 500,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    // gramless docs ride the same pass as one NULL-gram row (the r18
    // contaminationStats treatment): no second corpus scan, no id-keyed
    // restore join. The vocabulary aggregate must SKIP the NULL rows —
    // a NULL "gram" with one row per gramless doc could otherwise buy a
    // vocab slot.
    val grams = wordGramsOuter(docs, textCol, idCol, n)
    val vocab = grams
      .where(col("__gram").isNotNull)
      .groupBy(col("__gram")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__gram").asc)
      .limit(vocabSize)
      .select(col("__gram"), lit(1).as("__known"))
    grams
      .join(broadcast(vocab), Seq("__gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__gram")).as("n_grams"),
        sum(coalesce(col("__known"), lit(0))).as("n_known"))
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"))
      .withColumn("coverage_pct",
        when(col("n_grams") > 0, expr("n_known * 100 DIV n_grams"))
          .otherwise(lit(0L)))
  }

  /** Character-bigram language-model quality score — the probability-
    * weighted cousin of [[lmCoverage]]: learn a character-bigram model
    * from the corpus itself (count every adjacent character pair of the
    * normalized text), then score each document by the average model
    * probability of its bigrams. Prose written in the corpus's dominant
    * character distribution scores high; gibberish, encoding mojibake
    * and OCR noise score low because their character transitions are
    * rare corpus-wide. This is the smallest member of the
    * KenLM-perplexity-filter family (CCNet-style) that stays exactly
    * replayable: probabilities are micro-scaled BIGINTs
    * (`round(1e6·count/total)` — count·1e6 ≤ 2^53 stays exact in the
    * IEEE double both engines share), and the per-document aggregate is
    * an order-independent integer SUM, so no floating-point
    * accumulation order can drift the score across engines or retries.
    *
    * Scale shape: two corpus scans (one to count bigrams, one to
    * score), both map-side generated in place with the bind-once
    * nested-transform idiom (see [[graft.operators.Dedup.winnow]] for
    * why the naive spelling goes quadratic); the model is ≤ |charset|²
    * rows (a few thousand — broadcast at any corpus size, like
    * [[lmCoverage]]'s vocabulary) and the only exchanges are the
    * model's hash aggregate and the per-document score aggregate. The
    * corpus never shuffles.
    *
    * @return one row per doc with ≥ 2 normalized chars:
    *         (idCol, n_bigrams, score_sum, avg_micro) where `avg_micro`
    *         is the integer-division mean bigram micro-probability
    */
  /** Unicode SCRIPT mix per document — the multilingual-corpus routing
    * signal next to [[langId]]: how many codepoints fall in each major
    * script block, plus the dominant script (deterministic tie-break by
    * the fixed script order below). A pipeline uses it to route docs to
    * per-script tokenizers, catch mis-labeled languages (a `lang=en`
    * doc that is 90% CJK), and drop mixed-script spam.
    *
    * Scripts are spelled as EXPLICIT CODEPOINT RANGES, not `\p{script}`
    * classes: Java regex (Spark) and RE2 (the DuckDB oracle) draw
    * script properties from different Unicode tables, while literal
    * ranges mean the same codepoints in every engine — the
    * [[charGramsExpr]] whitespace-class discipline applied to scripts.
    * Counting is one `regexp_count` per script — map-side, zero
    * shuffle, codegen'd.
    *
    * @return input columns + n_latin, n_cyrillic, n_greek, n_cjk,
    *         n_arabic, n_hangul, n_digit, n_codepoints, dominant
    *         (the first script with the max count; "other" when every
    *         count is zero) */
  def scriptMix(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val counted = ScriptRanges.foldLeft(docs) { case (df, (name, cls)) =>
      df.withColumn(s"n_$name", regexp_count(t, lit(cls)).cast("long"))
    }
    // first-max-wins argmax: walk scripts in order, keep the first whose
    // count equals the row max and is > 0
    val maxC = greatest(ScriptRanges.map { case (n, _) => col(s"n_$n") }: _*)
    val firstMax = ScriptRanges.map(_._1).foldRight(lit("other"): Column) {
      case (name, acc) =>
        when(col(s"n_$name") === maxC && maxC > 0, lit(name)).otherwise(acc)
    }
    counted
      .withColumn("n_codepoints", length(t).cast("long"))
      .withColumn("dominant", firstMax)
  }

  /** [[scriptMix]]'s script blocks, in dominance-tie-break order. Kept
    * to ranges both Java regex and RE2 read identically. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    // ASCII letters + Latin-1 Supplement/Extended-A/B (00C0-024F)
    "latin" -> "[A-Za-zÀ-ɏ]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    // CJK Unified (4E00-9FFF) + Hiragana/Katakana (3040-30FF)
    "cjk" -> "[一-鿿぀-ヿ]",
    "arabic" -> "[؀-ۿ]",
    // Hangul syllables (AC00-D7A3)
    "hangul" -> "[가-힣]",
    "digit" -> "[0-9]")

  /** The character-bigram extraction shared by [[charLmScore]] and
    * [[langId]]: the native codegen'd `char_bigrams` expression
    * over the normalized text (one decode + one loop per row — the
    * interpreted-HOF spelling `transform(sequence(…), i ->
    * substring(t, i, 2))` re-scans the string per bigram and was the
    * measured dominant cost of this operator at 64× corpus scale; the
    * produced codepoint-pair array is identical). The whitespace class
    * is spelled explicitly ([ \t\n\x0B\f\r]) because \s differs
    * between Java regex and RE2 (the oracle's engine) on U+000B. */
  private def charGramsExpr(textCol: String): Column =
    graft.functions.functions.charBigrams(
      regexp_replace(lower(trim(col(textCol))),
        "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Driver-bounded collect of a model-sized aggregate: the
    * `limit(cap+1)` rides the same aggregation pass (no extra counting
    * action — Int.MaxValue clamped so cap+1 cannot overflow negative),
    * and the cap+1'th row fails loud with `hint` instead of an unbounded
    * driver materialization. The ONE definition of the safety idiom
    * charLmScore and langId share — two copies drifted once already
    * (the overflow guard had to be patched in both). */
  private def boundedCollect(aggregated: DataFrame, cap: Int,
      hint: => String): Array[org.apache.spark.sql.Row] = {
    require(cap > 0, s"maxModelRows must be > 0: $cap")
    val rows = aggregated
      .limit(if (cap == Int.MaxValue) cap else cap + 1)
      .collect()
    require(rows.length <= cap, hint)
    rows
  }

  /** Per-document character-bigram LM quality score: train the corpus's
    * own bigram frequency model, score every doc as the average
    * micro-scaled bigram probability (`avg_micro` — junk text scores
    * low because its bigrams are corpus-rare). Integer-exact output:
    * one `round(1e6·cnt/total)` per model cell, integer sums after.
    *
    * EAGER (the langId discipline, round 12): constructing the returned
    * frame trains the model — ONE corpus bigram pass at call time whose
    * (bigram, count) table lands on the driver as a local relation
    * (bounded by charset², guarded at `maxModelRows` with a
    * `limit(cap+1)` riding the same pass), so each materialization of
    * the result costs exactly ONE further corpus pass. The previous
    * lazy spelling re-derived the model broadcast AND the total
    * broadcast from separate corpus explodes on every materialization
    * (~3 passes each). The per-cell rounding stays IN Spark against a
    * literal total, so scores are bit-identical to the lazy version
    * (and to the DuckDB oracle).
    *
    * @return (idCol, n_bigrams, score_sum, avg_micro) */
  def charLmScore(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxModelRows: Int = 1000000): DataFrame = {
    val sess = docs.sparkSession
    val grams = docs.select(col(idCol), explode(charGramsExpr(textCol)).as("__g"))
    val countRows = boundedCollect(
      grams.groupBy(col("__g")).agg(count(lit(1)).as("__cnt")),
      maxModelRows,
      s"charLmScore model exceeds $maxModelRows distinct bigrams — a " +
        s"wide-charset corpus. Shard by script (scriptMix) and score " +
        s"per shard, or raise maxModelRows explicitly if the driver " +
        s"heap allows")
    val total = countRows.iterator.map(_.getLong(1)).sum
    val modelSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__g",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__cnt",
        org.apache.spark.sql.types.LongType)))
    val model = sess.createDataFrame(
      java.util.Arrays.asList(countRows: _*), modelSchema)
    grams
      // per-cell micro score computed on the MODEL side (r18 codegen
      // audit): one round() per distinct bigram in the broadcast
      // relation instead of one multiply+divide+round per gram
      // OCCURRENCE; same expression over the same inputs, so values —
      // and the oracle hashes — are bit-identical
      .join(broadcast(model.select(col("__g"),
        round(col("__cnt") * lit(1000000.0) / lit(total))
          .cast("long").as("__p"))), Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__p")).as("score_sum"))
      .withColumn("avg_micro", expr("score_sum DIV n_bigrams"))
  }

  /** Deterministic dataset splitting (train/val/test): each row is
    * assigned the first split whose cumulative ppm range contains the
    * row's md5-uniform [[samplePpm]] key — a pure function of the id,
    * so the split survives replays, engine changes, corpus growth
    * (existing rows never move when new rows arrive — the property
    * `randomSplit` fundamentally lacks), and is map-side with no
    * shuffle or RNG state. Fractions are given in ppm and must sum to
    * ≤ 1e6; rows past the last range get the LAST split (so exhaustive
    * fractions partition exactly and non-exhaustive ones spill into
    * the final split rather than dropping data silently).
    *
    * Output: input columns + `split` (the name). For per-stratum
    * proportions compose with the stratum upstream — the key is
    * uniform within any subset, so every stratum splits at the same
    * ratios without extra machinery.
    */
  def splitAssign(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.map(_._2.toLong).sum <= 1000000L,
      "split fractions exceed 1e6 ppm")
    require(splits.forall(_._2 >= 0), "negative split fraction")
    require(!df.columns.contains("split"),
      "input column 'split' collides with the split output column")
    val bounds = splits.scanLeft(0L) { case (acc, (_, ppm)) => acc + ppm }
      .tail.zip(splits.map(_._1))
    val key = samplePpm(col(idCol))
    val assigned = bounds.init.foldRight(
      lit(bounds.last._2): Column) { case ((hi, name), acc) =>
      when(key < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assigned)
  }

  /** Trained language identification: per-language add-one-smoothed
    * character-bigram models, every document scored under EVERY model,
    * predicted language = argmax log-likelihood (tie → lexicographically
    * smallest language). This upgrades the marker-count heuristic
    * (`q_lang_markers`) to the standard trained n-gram classifier
    * (Cavnar & Trenkle 1994 family): the training labels come from the
    * corpus's own `langCol`, so the audit column `correct` directly
    * measures how separable the corpus's languages are at the
    * character level.
    *
    * Engine-portable math (the [[charLmScore]] discipline): one ln
    * micro-rounding per (bigram, lang) model cell —
    * `round(1e6 · ln((cnt+1)/(total+V)))`, V = corpus distinct-bigram
    * count shared across languages so smoothing is comparable — and
    * one per-language OOV cell from the same formula with cnt = 0;
    * everything after is exact integer products/sums, so scores and
    * the argmax they drive replay bit-identically in any engine.
    *
    * Scale shape (r18, guide §2.3/§2.4): the model is ≤ |langs| ·
    * charset² cells and broadcasts PIVOTED — one row per gram carrying
    * every language's log-prob — so scoring is a single map-side
    * broadcast-hash lookup per gram occurrence followed by ONE
    * (doc, lang) hash aggregate with |langs| sum columns: one exchange
    * total, carrying one row per document. The previous shape shuffled
    * three times (a per-doc gram histogram, a |langs|×-fanned
    * score table, the final argmax) and fanned every histogram row out
    * |langs|× through a crossJoin. Linear in corpus × langs, never a
    * corpus self-join. For hundreds of candidate languages, prefilter
    * with the marker heuristic and score the shortlist.
    *
    * EAGER (since the r11 two-pass rework): constructing the returned
    * frame trains the model — one full corpus aggregation runs at CALL
    * time and its (lang × distinct bigram) counts land on the DRIVER.
    * "A few thousand rows" holds for alphabetic scripts, but CJK-heavy
    * corpora have ~10⁴ distinct chars ⇒ up to 10⁶–10⁷ distinct bigrams
    * PER LANGUAGE, and hundreds of candidate langs multiply that — so
    * the collect is BOUNDED at `maxModelRows` (a `limit(cap+1)` rides
    * the same single pass; no extra counting action) and fails loud
    * with the shortlist-prefilter hint instead of quietly OOMing the
    * driver (VERDICT r11 what's-wrong #3). Pruning to top-K grams per
    * lang would change scores, so raising the cap is explicit, never
    * silent.
    *
    * @param maxModelRows fail-loud ceiling on collected (lang, bigram)
    *        model cells; default 1M ≈ tens of MB of driver heap
    * @return (idCol, langCol, predicted_lang, score_micro, correct)
    */
  def langId(docs: DataFrame, langCol: String = "lang",
      textCol: String = "text", idCol: String = "doc_id",
      maxModelRows: Int = 1000000): DataFrame = {
    // TWO corpus gram passes, not 3-4: the per-lang gram counts are
    // aggregated once and COLLECTED to the driver (lang x distinct
    // bigram — a few thousand rows for any real charset), then handed
    // back as a local relation that vocab, totals, model, and the OOV
    // floor all derive from with zero further corpus work and zero
    // cached blocks left behind (a persist here leaked one cache entry
    // per call in long-lived sessions — only the bench's cleanup ever
    // released it). Previously the train-counts, vocab (an eager
    // driver action, so never plan-shared), and model-broadcast legs
    // each re-ran the full corpus explode. The remaining two passes
    // are irreducible: one builds the model's counts, one builds the
    // per-doc histograms the scoring join consumes. (Pinning the
    // per-doc histogram frame too was measured SLOWER at bench scale —
    // its materialization costs more than the explode it saves.)
    val sess = docs.sparkSession
    val countRows = boundedCollect(
      docs
        .select(col(langCol).as("__lang"), explode(charGramsExpr(textCol))
          .as("__g"))
        .groupBy(col("__lang"), col("__g"))
        .agg(count(lit(1)).as("__cnt")),
      maxModelRows,
      s"langId model exceeds $maxModelRows (lang x bigram) cells — a " +
        s"wide-charset corpus or a large language set. Prefilter with " +
        s"the marker heuristic (the q_lang_markers regexp-count shape) " +
        s"and score the shortlist, " +
        s"or raise maxModelRows explicitly if the driver heap allows")
    val countSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__lang",
        docs.schema(langCol).dataType),
      org.apache.spark.sql.types.StructField("__g",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__cnt",
        org.apache.spark.sql.types.LongType)))
    val counts = sess.createDataFrame(
      java.util.Arrays.asList(countRows: _*), countSchema)
    val totals = counts.groupBy(col("__lang"))
      .agg(sum(col("__cnt")).as("__total"))
    val vocab = countRows.map(_.get(1)).distinct.length
    // candidate languages, known driver-side from the collected model
    // (order only names working columns — the argmax below compares
    // language VALUES, so tie-breaks do not depend on this sequence)
    val langVals: Seq[Any] =
      countRows.map(_.get(0)).distinct.sortBy(String.valueOf(_))
    if (langVals.isEmpty)
      // no grams anywhere ⇒ no scorable documents (each doc-gram row
      // would have trained the model) — the empty frame the fan-out
      // shape produced, same column types
      return docs.select(col(idCol), col(langCol))
        .where(lit(false))
        .withColumn("predicted_lang",
          lit(null).cast(docs.schema(langCol).dataType))
        .withColumn("score_micro", lit(null).cast("long"))
        .withColumn("correct", lit(null).cast("int"))
    // the per-cell ln/round stays IN Spark (the charLmScore discipline:
    // a driver-side math.round would differ on negative .5 ties), but
    // the model ships PIVOTED — one broadcast row per gram with one
    // log-prob column per language — so scoring needs no fan-out
    val model = counts.join(totals, Seq("__lang"))
      .select(col("__lang"), col("__g"),
        expr(s"CAST(round(1000000.0 * ln((__cnt + 1) / " +
          s"CAST(__total + $vocab AS DOUBLE))) AS BIGINT)").as("__lp"))
    val oov = totals.select(col("__lang"),
      expr(s"CAST(round(1000000.0 * ln(1 / " +
        s"CAST(__total + $vocab AS DOUBLE))) AS BIGINT)").as("__oov"))
    // (lang, gram) is unique after the training groupBy, so first() is
    // exact; pivot columns are renamed positionally (__lp0..__lpK) —
    // language values never have to be legal column names
    val pivoted = model.groupBy(col("__g")).pivot("__lang", langVals)
      .agg(first(col("__lp")))
      .toDF("__g" +: langVals.indices.map(i => s"__lp$i"): _*)
    // per-lang OOV cells, computed by the same Spark expression, then
    // collected (|langs| rows off a local relation) into literals
    val oovByLang = oov.collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val oovArr = langVals.map(oovByLang)
    val scoreCols = langVals.indices.map(i =>
      sum(coalesce(col(s"__lp$i"), lit(oovArr(i)))).as(s"__s$i"))
    val perDoc = docs
      .select(col(idCol), col(langCol), explode(charGramsExpr(textCol))
        .as("__g"))
      .join(broadcast(pivoted), Seq("__g"), "left")
      .groupBy(col(idCol), col(langCol))
      .agg(scoreCols.head, scoreCols.tail: _*)
    // argmax over the |langs| score columns — least(struct(-score,
    // lang, score)) is row-for-row the min(struct(...)) the fan-out
    // shape aggregated: same (count desc, lang asc) order, same ties
    val best = least(langVals.indices.map(i =>
      struct((-col(s"__s$i")).as("__neg"),
        lit(langVals(i)).as("__cand"),
        col(s"__s$i").as("__score"))): _*)
    perDoc
      .select(col(idCol), col(langCol), best.as("__best"))
      .select(col(idCol), col(langCol),
        col("__best.__cand").as("predicted_lang"),
        col("__best.__score").as("score_micro"),
        when(col("__best.__cand") === col(langCol), 1).otherwise(0)
          .as("correct"))
  }

  /** Count-column names paired with [[RedactPatterns]], in order. */
  val RedactCountColumns: Seq[String] = Seq("n_emails", "n_ips", "n_phones")

  /** Redact PII-looking spans from `textCol` into typed placeholder
    * tokens — the scrub pass a training pipeline runs before
    * tokenization. Pure map-side chain of `regexp_replace` (codegen'd,
    * no UDF, no shuffle).
    *
    * Each class is counted on the text AS IT STANDS when that pattern
    * runs (i.e. after the earlier classes were replaced), so every count
    * equals the number of placeholder tokens of that class in the
    * output — counting all classes on the original text instead would
    * report phantom matches a later pattern never gets to replace (e.g.
    * a long digit run inside an email's local part looks like a phone,
    * but the email replacement consumes it first).
    *
    * @return input columns + (redacted, n_emails, n_ips, n_phones)
    */
  def redact(docs: DataFrame, textCol: String = "text"): DataFrame =
    RedactPatterns.zip(RedactCountColumns).foldLeft(
      docs.withColumn("redacted", col(textCol))) {
      case (df, ((pattern, token), countCol)) =>
        df.withColumn(countCol, regexp_count(col("redacted"), lit(pattern)))
          .withColumn("redacted",
            regexp_replace(col("redacted"), pattern, token))
    }

  /** Cross-document line deduplication — the boilerplate-removal pass of
    * the C4/CCNet/RefinedWeb family: a line occurring in the corpus more
    * than `maxOccurrences` times is boilerplate (cookie banners,
    * nav menus, license headers) and every occurrence is removed.
    * (C4 proper keeps one surviving occurrence; the remove-all policy is
    * the RefinedWeb/CCNet variant — at web scale a line repeated across
    * documents is template noise, not content worth keeping once.)
    *
    * Lines are compared VERBATIM (no trimming/lowercasing — the line is
    * the unit of content); blank (empty or spaces-only) lines are
    * structural, never counted or removed. Docs whose every line is removed keep a
    * row with empty `text_clean` so downstream joins see the full id set.
    *
    * Scale shape: explode lines → one hash aggregate for corpus counts
    * (map-side partials collapse repeats); the blocklist — only lines
    * OVER the threshold, a tiny fraction of distinct lines — broadcasts
    * into an anti-join against the exploded lines, so the corpus is
    * shuffled exactly once, for the order-preserving reassembly
    * (`array_sort` by line index, bounded per-doc). No corpus-sized sort,
    * no window over the full stream.
    *
    * @return one row per input doc:
    *         (idCol, text_clean, n_lines, n_kept, n_removed)
    */
  def lineDedup(
      docs: DataFrame,
      maxOccurrences: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(maxOccurrences >= 1,
      s"maxOccurrences must be >= 1, got $maxOccurrences")
    Seq("__line", "__line_idx", "text_clean", "n_lines", "n_kept",
      "n_removed").foreach(c => require(!docs.columns.contains(c),
      s"input column '$c' collides with a lineDedup working/output column"))
    // limit -1: trailing empty lines are real lines (Spark's default
    // split drops them; DuckDB's string_split does not)
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1))
        .as(Seq("__line_idx", "__line")))
    val boilerplate = lines
      .where(trim(col("__line")) =!= "")
      .groupBy(col("__line")).agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") > maxOccurrences)
      .select(col("__line"))
    val kept = lines.join(broadcast(boilerplate), Seq("__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(" +
            "struct(__line_idx, __line))), s -> s.__line)"), "\n")
          .as("text_clean"))
    docs.select(col(idCol),
      (size(split(col(textCol), "\n", -1))).as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Markup-strip patterns applied by [[stripMarkup]], in order —
    * non-content blocks first (script/style/comments, dotall so they
    * span lines), then remaining tags, then the entity decodes
    * (`&amp;` LAST so `&amp;lt;` decodes to the text `&lt;`, not to
    * `<`), then whitespace collapse. Kept inside the Java-regex ∩ RE2
    * common subset (inline `(?is)` flags, non-greedy `.*?`, no
    * lookaround — and the whitespace class spelled explicitly, because
    * `\s` itself is NOT in the subset: Java's includes vertical tab
    * U+000B, RE2's does not) so the DuckDB oracle replays the identical
    * strip byte for byte — the same single-source-of-truth discipline as
    * [[RedactPatterns]]. */
  val MarkupPatterns: Seq[(String, String)] = Seq(
    "(?is)<script[^>]*>.*?</script>" -> " ",
    "(?is)<style[^>]*>.*?</style>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    "<[^>]+>" -> " ",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "&nbsp;" -> " ",
    "&amp;" -> "&",
    "[ \\t\\n\\x0B\\f\\r]+" -> " ")

  /** Strip HTML/XML markup from `textCol` — the extraction pass between
    * a raw crawl and every text-quality operator (a tag soup document
    * poisons n-gram stats, language ID and dedup alike). Pure map-side
    * chain of codegen'd `regexp_replace` (no UDF, no shuffle, no parse
    * tree — the lexical strip that covers the overwhelming share of
    * crawl markup; a DOM-fidelity extractor is a different, non-regex
    * operator).
    *
    * @return input columns + (stripped, n_tags) where `n_tags` counts
    *         tag-like spans in the ORIGINAL text (the audit signal for
    *         "how markup-heavy was this source")
    */
  def stripMarkup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    Seq("stripped", "n_tags").foreach(c => require(!docs.columns.contains(c),
      s"input column '$c' collides with a stripMarkup output column"))
    val stripped = MarkupPatterns.foldLeft(col(textCol)) {
      case (c, (pattern, repl)) => regexp_replace(c, pattern, repl)
    }
    docs
      .withColumn("n_tags", regexp_count(col(textCol), lit("<[^>]+>")))
      .withColumn("stripped", trim(stripped))
  }

  /** The sampling bucket: uniform in [0, 100) as a pure function of the
    * id — the first 60 bits of md5(id) mod 100. md5 (not xxhash64) so
    * the decision is reproducible in any engine that ships md5. */
  def sampleBucket(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long") % 100

  /** Deterministic Bernoulli sample stratified by `stratumCol`: a row is
    * kept iff its [[sampleBucket]] < the stratum's percentage rate.
    * Strata absent from `rates` use `defaultPct`. Typical use: downsample
    * over-represented languages/sources while keeping all of the rare
    * ones. Map-side only — no shuffle, no driver state.
    *
    * The output carries the decision in a `sample_bucket` column (callers
    * audit or drop it); that name is therefore reserved, and an input
    * already containing it is rejected rather than silently clobbered.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      rates: Map[String, Int],
      defaultPct: Int): DataFrame = {
    require(!df.columns.contains("sample_bucket"),
      "input column 'sample_bucket' collides with the output bucket column")
    require(defaultPct >= 0 && defaultPct <= 100, "defaultPct in [0,100]")
    rates.values.foreach(r => require(r >= 0 && r <= 100, "rate in [0,100]"))
    val rateCol = rates.foldLeft(lit(defaultPct)) { case (acc, (k, pct)) =>
      when(col(stratumCol) === k, lit(pct)).otherwise(acc)
    }
    df.withColumn("sample_bucket", sampleBucket(col(idCol)))
      .where(col("sample_bucket") < rateCol)
  }

  /** The ppm-granularity sampling key: uniform in [0, 1e6) as a pure
    * function of the id ([[sampleBucket]]'s md5 discipline at the
    * resolution temperature rates need). */
  def samplePpm(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L

  /** Per-stratum keep rates for TEMPERATURE (α) sampling — the
    * multilingual/multi-source mixing policy (mT5/XLM-R style): stratum
    * s is sampled with probability ∝ n_s^α, flattening the natural
    * distribution so rare sources are over-represented relative to
    * their share (α = 1 reduces to uniform document sampling, α → 0 to
    * uniform-over-strata). Realized as per-document keep rates against
    * a total `budget`: keep_s = budget · (w_s / Σw) / n_s with
    * w_s = n_s^α, capped at 1.
    *
    * Engine-portable determinism: n_s^α is the ONE float step, spelled
    * `round(1e6 · exp(α · ln n))` on both engines (the DSIR ln-micro
    * discipline); everything after is integer — the budget product runs
    * in 128-bit (DECIMAL(38,0) here, HUGEINT in the oracle) so no
    * range assumption on budget × weight, and the floor-div quotient is
    * exact. Output: (stratumCol, n_docs, keep_ppm).
    *
    * Scale shape: one tiny count aggregate (|strata| rows) + a 1-row
    * total broadcast — the corpus is never shuffled. */
  def temperatureRates(df: DataFrame, stratumCol: String,
      alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    require(budget >= 0, s"budget must be >= 0, got $budget")
    Seq("n_docs", "keep_ppm").foreach(c =>
      require(!df.columns.contains(c),
        s"input column '$c' collides with a temperatureRates output"))
    val withW = df
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__w",
        expr(s"CAST(round(1000000.0 * exp($alpha * ln(n_docs))) AS BIGINT)"))
    withW
      .crossJoin(broadcast(withW.select(sum(col("__w")).as("__tw"))))
      .withColumn("keep_ppm",
        least(lit(1000000L), expr(
          s"""CAST(floor((CAST($budget AS DECIMAL(38,0)) * 1000000 * __w)
             |  / (CAST(__tw AS DECIMAL(38,0)) * n_docs)) AS BIGINT)"""
            .stripMargin)))
      .drop("__w", "__tw")
  }

  /** Apply [[temperatureRates]]: keep each document iff its md5-uniform
    * ppm key falls under its stratum's rate — deterministic (replays
    * and incremental retries keep the same documents), map-side after
    * one broadcast of the |strata|-row rate table. The kept frame
    * carries `keep_ppm` for auditing. */
  def temperatureMix(df: DataFrame, stratumCol: String, idCol: String,
      alpha: Double, budget: Long): DataFrame = {
    val rates = temperatureRates(df, stratumCol, alpha, budget)
      .select(col(stratumCol), col("keep_ppm"))
    df.join(broadcast(rates), Seq(stratumCol))
      .where(samplePpm(col(idCol)) < col("keep_ppm"))
  }
}
