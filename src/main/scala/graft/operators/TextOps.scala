package graft.operators

import graft.{Scope, Tables}
import graft.functions.TextHash._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for the training-data pipeline (SURVEY.md §7 L4):
  * language ID, quality scoring, token counting, winnowing
  * fingerprints, corpus term statistics.
  *
  * All per-document computations are shuffle-free row expressions; the
  * only shuffles are the final aggregations (term stats), which combine
  * map-side. Everything is oracle-checked against DuckDB.
  */
object TextOps {

  import graft.functions.Portable.trunc4

  /** Stopword lists for the n-gram/stopword language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "mit", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "vous"))

  private def stopRatio(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang): _*))).cast("double") / size(toks)

  /** Language ID: per-language stopword-hit ratio, argmax with fixed
    * preference order (en, de, es, fr) and an `und` floor at 2%. */
  /** The argmax-with-floor decision over the four stopword ratios
    * (shared by [[langId]] and [[langIdEval]] so they can never
    * disagree on the rule). */
  private def langDecision: Column =
    when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
        col("s_en") >= col("s_fr") && col("s_en") >= 0.02, "en")
      .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
        col("s_de") >= 0.02, "de")
      .when(col("s_es") >= col("s_fr") && col("s_es") >= 0.02, "es")
      .when(col("s_fr") >= 0.02, "fr")
      .otherwise("und")

  private def langRatios(extra: Column*): Seq[Column] =
    extra ++ Seq(
      stopRatio(col("toks"), "en").as("s_en"),
      stopRatio(col("toks"), "de").as("s_de"),
      stopRatio(col("toks"), "es").as("s_es"),
      stopRatio(col("toks"), "fr").as("s_fr"))

  def langId(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(langRatios(col("doc_id")): _*)
    base.select(col("doc_id"), trunc4(col("s_en")).as("score_en"),
      langDecision.as("predicted"))
  }

  /** Language-ID evaluation — the confusion matrix + per-label
    * accuracy for [[langId]] against the corpus's `lang` labels: the
    * same "measure the heuristic on live data" discipline as the ANN
    * recall query (`q_sim_recall`), applied to the classifier every
    * pipeline gates on. ONE scan (the label rides the prediction
    * projection), one hash-agg to the |langs|² matrix, and a window
    * over that tiny matrix for the per-label share. */
  def langIdEval(docs: DataFrame): DataFrame = {
    val labeled = docs.select(col("lang"), tokens(col("text")).as("toks"))
      .select(langRatios(col("lang")): _*)
      .select(col("lang"), langDecision.as("predicted"))
    val m = labeled.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    m.withColumn("lang_total",
        sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("predicted"), col("n"), col("lang_total"),
        (col("lang") === col("predicted")).as("correct"),
        trunc4(col("n").cast("double") / col("lang_total")).as("share"))
  }

  /** Quality scoring: token count, exact mean token length, stopword
    * ratio, type/token ratio, and a weighted composite. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(col("doc_id"), col("n_chars"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        // single-space corpus: chars = Σ|tok| + (n-1) separators
        ((col("n_chars") - size(col("toks")) + 1).cast("double") / size(col("toks"))).as("tok_len"),
        stopRatio(col("toks"), "en").as("stop"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("ttr"))
      .select(col("doc_id"), col("n_tokens"),
        trunc4(col("tok_len")).as("avg_tok_len"),
        trunc4(col("stop")).as("stop_ratio"),
        trunc4(col("ttr")).as("type_token_ratio"),
        trunc4(col("stop") * 0.3 + col("ttr") * 0.5 +
          when(col("n_tokens") >= 20, 0.2).otherwise(0.0)).as("quality"))
  }

  /** Token counting: whitespace tokens vs a BPE-ish alnum-run regex vs
    * raw characters. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("long").as("n_re_tokens"),
      col("n_chars"))

  /** Cross-source overlap matrix — the curation screen for "which
    * sources duplicate each other" (web dumps and mirrors overlap
    * heavily; mixing two near-identical sources silently doubles their
    * weight): pairwise shingle-set Jaccard AND both containments
    * between every source pair, over the DISTINCT (source, shingle)
    * relation.
    *
    * Scale: documents collapse to distinct (source, 60-bit hash) rows
    * first — the pair join's fan-out per shingle is bounded by the
    * SOURCE count (≤ |sources| rows per hash value, not |docs|), so
    * the bucket join is Σ df² with df ≤ |sources|. Output is
    * |sources|²/2 rows; all counts integer, the three ratios are
    * single divisions. */
  def sourceOverlap(docs: DataFrame): DataFrame = Scope { s =>
    // codegen'd shingle rows (posexplode + leads) with the source
    // carried through — the interpreted HOF-lambda form measured ~1.5×
    // slower on this collapse (PERF.md A/B); the per-doc distinct is
    // subsumed by the (source, hash) distinct
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    // sizes + both join arms
    val g = s.persist(docs
      .select(col("doc_id"), col("source"),
        posexplode(tokens(col("text"))).as(Seq("i", "t")))
      .withColumn("n_toks", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("s", concat_ws(" ", col("t"),
        lead(col("t"), 1).over(byPos), lead(col("t"), 2).over(byPos)))
      .filter(col("i") <= col("n_toks") - 3)
      .select(col("source"), hash60(col("s")).as("sh"))
      .distinct())
    val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = g.as("a").join(g.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"), col("sz_b"),
        trunc4(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"),
        trunc4(col("inter").cast("double") / col("sz_a")).as("contain_a"),
        trunc4(col("inter").cast("double") / col("sz_b")).as("contain_b"))
      .localCheckpoint(true) // |sources|²/2 rows; releases g
  }

  /** Token-budget corpus fill — the "give me N tokens per source" cut
    * every training-mix spec ultimately compiles to (rate-based
    * sampling hits a FRACTION; a budget hits a TOKEN COUNT): docs are
    * ordered by a deterministic hash (reproducible, selection-bias
    * free) and each source keeps its prefix while the cumulative token
    * sum stays within the budget. Cumulative sums are exact integers;
    * the (hash, doc_id) order is total, so both engines cut at the
    * same document.
    *
    * Scale: one scan projects (id, source, n_tok, hash); the per-source
    * window is the only exchange. A source's docs land in one
    * partition — at extreme per-source volume the cumsum becomes the
    * two-phase block form ([[seqPack]]'s windows); the budget filter
    * then caps output long before that matters. */
  def tokenBudget(docs: DataFrame, budget: Long = 20000L): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      hash60(concat(lit("budget|"), col("doc_id"))).as("hk"))
    val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    t.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
  }

  /** Winnowing document fingerprints: min 60-bit hash over each window
    * of 4 consecutive 3-shingle hashes, distinct per doc.
    *
    * Relational form: shingle rows (codegen'd string assembly) →
    * codegen'd hash60 → windowed min over the `window` following hash
    * rows → distinct. The hot md5 loop stays inside whole-stage codegen
    * instead of the interpreted `transform`/`sequence`/`least` lambda
    * chain of [[fingerprintsHof]] (PERF.md rule #3); the shuffle is one
    * hash-partition on doc_id reused by both window passes. A/B at
    * sf0.1 in PERF.md — this form wins and is the wired one. */
  def fingerprints(docs: DataFrame, window: Int = 4): DataFrame = {
    val spreadDocs = graft.functions.Portable.spread(docs, col("doc_id"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val nSh = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    shingleRows(spreadDocs)
      .select(col("doc_id"), col("i"), hash60(col("s")).as("h"))
      .withColumn("n_sh", count(lit(1)).over(nSh))
      .withColumn("fp", min(col("h")).over(byPos.rowsBetween(0, window - 1)))
      .filter(col("i") <= col("n_sh") - window) // full windows only
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** The original higher-order-function form of [[fingerprints]] —
    * identical values, interpreted lambdas. Kept for the A/B record and
    * as the reference semantics of the winnowing. */
  def fingerprintsHof(docs: DataFrame, window: Int = 4): DataFrame = {
    val spreadDocs = graft.functions.Portable.spread(docs, col("doc_id"))
    val hs = transform(shingles(tokens(col("text"))), s => hash60(s))
    val mins = transform(sequence(lit(1), size(col("hs")) - (window - 1)),
      i => least((0 until window).map(o => element_at(col("hs"), i + o)): _*))
    spreadDocs.select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(when(size(col("hs")) >= window, mins).otherwise(array()))).as("fp"))
  }

  /** Token-window chunking + cross-corpus chunk dedup: split each doc
    * into fixed-size token windows (the unit a training pipeline feeds
    * a context window), emit per-chunk stats and how many chunks in the
    * whole corpus share the same content hash.
    *
    * Relational: posexplode tokens → chunk_idx = i div size → ordered
    * `collect_list` over the (doc_id, chunk_idx) window rebuilds each
    * chunk deterministically → codegen'd hash60 → one `count` window on
    * the hash for the dedup signal. The doc_id spread partitioning
    * satisfies the chunk window's ClusteredDistribution, so the only
    * added shuffle is the final count-by-hash — which at 100 TB carries
    * one short row per chunk, never the text. */
  def chunks(docs: DataFrame, chunkSize: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spreadDocs = graft.functions.Portable.spread(docs, col("doc_id"))
    val tok = spreadDocs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "t")))
      .withColumn("chunk_idx", expr(s"i div $chunkSize").cast("long"))
    val w = Window.partitionBy(col("doc_id"), col("chunk_idx")).orderBy(col("i"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perChunk = tok
      .withColumn("rn", row_number().over(w))
      .withColumn("ctoks", collect_list(col("t")).over(full))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        hash60(concat_ws(" ", col("ctoks"))).as("chunk_hash"))
    perChunk.withColumn("n_same",
      count(lit(1)).over(Window.partitionBy(col("chunk_hash"))))
  }

  /** Corpus text normalization — the first pass a real training
    * pipeline runs BEFORE any dedup/fingerprinting (MinHash on
    * un-normalized text misses case/punctuation near-dups entirely):
    * lowercase → strip non-alphanumeric (keeping spaces) → collapse
    * whitespace runs → trim. Pure per-row codegen'd expressions, no
    * shuffle. */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Offset for perturbed-copy ids: 2^40 ≈ 1.1e12 — far above any real
    * doc_id (a 100 TB corpus of ~1 KB docs is ~10^11 ids), so messy
    * copies can never collide with real documents. */
  val PerturbOffset: Long = 1L << 40

  /** Deterministic "messy" corpus: every doc plus a perturbed copy
    * (fresh id, [[PerturbOffset]] above the original) — uppercased+
    * punctuated, double-spaced, or padded — because the generator's
    * corpus is already clean (the exact thing a normalization operator
    * cannot assume in production). Normalizing the perturbed copy
    * provably restores the original text. */
  def perturbed(docs: DataFrame): DataFrame = {
    val messy = when(col("doc_id") % 3 === 0, concat(upper(col("text")), lit("!!")))
      .when(col("doc_id") % 3 === 1, replace(col("text"), lit(" "), lit("  ")))
      .otherwise(concat(lit("   "), col("text"), lit(" ???")))
    // one scan + explode, NOT a self-union (which plans two scans of the
    // same file — at 100 TB that doubles the read); plan-shape-pinned in
    // ScaleSpec
    docs.select(explode(array(
        struct(col("doc_id").as("doc_id"), col("text").as("text")),
        struct((col("doc_id") + PerturbOffset).as("doc_id"), messy.as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }

  /** Per-doc normalization audit over the perturbed corpus: raw vs
    * normalized length + the normalized-content hash (the dedup key). */
  def normalized(docs: DataFrame): DataFrame =
    perturbed(docs)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_raw"),
        normalize(col("text")).as("nt"))
      .select(col("doc_id"), col("n_chars_raw"),
        length(col("nt")).cast("long").as("n_chars_norm"),
        md5(col("nt")).as("norm_hash"))

  /** Exact dedup AFTER normalization: the Dedup.exact sibling that
    * collapses case/punctuation/whitespace variants a raw md5 cannot.
    * Every group in the perturbed corpus collapses to n_copies = 2
    * (original + its messy copy) — raw-text md5 would find none. */
  def dedupNormalized(docs: DataFrame): DataFrame =
    perturbed(docs)
      .groupBy(md5(normalize(col("text"))).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Benchmark decontamination — the pipeline step that keeps held-out
    * eval data out of a training corpus (every serious LLM data
    * pipeline runs an n-gram overlap pass): flag each training document
    * sharing any word n-gram with the benchmark set, with hit counts.
    *
    * The held-out set here is the deterministic slice doc_id % 97 == 0
    * (standing in for an external benchmark file). Scale shape: the
    * benchmark n-gram relation is FIXED-SIZE (eval sets don't grow with
    * the corpus) → distinct-hash + broadcast; the training side is
    * shingle rows → codegen'd hash60 → broadcast-hash semi-ish join +
    * one hash aggregate. No shuffle ever carries document text. */
  def decontaminate(docs: DataFrame, n: Int = 5, benchMod: Long = 97L): DataFrame = {
    def grams(d: DataFrame) =
      shingleRows(graft.functions.Portable.spread(d, col("doc_id")), n)
        .select(col("doc_id"), hash60(col("s")).as("gh"))
    val bench = grams(docs.filter(col("doc_id") % benchMod === 0))
      .select(col("gh")).distinct()
    val train = grams(docs.filter(col("doc_id") % benchMod =!= 0))
    train.join(broadcast(bench), "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("gh")).as("n_distinct_grams"))
  }

  /** DSIR-style importance weights for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every training doc by how much more likely
    * its hashed-bigram bag is under the TARGET distribution (here the
    * [[decontaminate]]-style benchmark slice, doc_id % benchMod == 0)
    * than under the raw-corpus distribution — the importance weight a
    * pipeline resamples by to tilt a web crawl toward a target domain.
    *
    * Relational shape: one tokenize+bigram pass (persisted — it feeds
    * the two distribution counts and the per-doc sums), hashed into
    * `buckets` cells exactly as the paper hashes n-grams; both
    * distributions densify over the bucket grid with Laplace
    * smoothing; the per-bucket log-ratio floors to a 1e6-scaled BIGINT
    * so each doc's weight is an exact integer sum (no float merge
    * order), with the tiny ≤`buckets`-row LUT broadcast to the doc
    * side. At 100 TB: scan-bound, one narrow shuffle of (doc, bucket)
    * pairs, LUT broadcast — the same profile as tfidf. */
  def dsirWeights(docs: DataFrame, buckets: Long = 1024L,
      benchMod: Long = 97L): DataFrame = Scope { s =>
    import org.apache.spark.sql.expressions.Window
    // feeds target counts, raw counts, and the doc sums
    val bg = s.persist(graft.functions.TextHash
      .shingleRows(graft.functions.Portable.spread(docs, col("doc_id")), 2)
      .select(col("doc_id"), pmod(hash60(col("s")), lit(buckets)).as("b")))
    val isBench = col("doc_id") % benchMod === 0
    val tgt = bg.filter(isBench).groupBy(col("b")).agg(count(lit(1)).as("nt"))
    val raw = bg.filter(!isBench).groupBy(col("b")).agg(count(lit(1)).as("nr"))
    val grid = docs.agg(count(lit(1)).as("_n"))
      .select(explode(sequence(lit(0L), lit(buckets - 1L))).as("b"))
    val lut = grid.join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
      .withColumn("nt", coalesce(col("nt"), lit(0L)))
      .withColumn("nr", coalesce(col("nr"), lit(0L)))
      .withColumn("tt", sum(col("nt")).over(Window.partitionBy()))
      .withColumn("tr", sum(col("nr")).over(Window.partitionBy()))
      .select(col("b"),
        floor((log((col("nt") + 1) / (col("tt") + buckets)) -
          log((col("nr") + 1) / (col("tr") + buckets))) * 1e6).cast("long")
          .as("term_scaled"))
    bg.filter(!isBench).join(broadcast(lut), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_scaled")).as("w_scaled"))
      .withColumn("avg_logratio",
        graft.functions.Portable.trunc4(col("w_scaled") / 1e6 / col("n_bigrams")))
      .localCheckpoint(true) // one narrow row per doc; releases bg
  }

  /** Concat-and-chunk sequence packing: documents are concatenated in
    * doc_id order and split every `capacity` tokens (how training
    * examples actually reach a context window), emitting each doc's
    * global token offset and the pack range it spans.
    *
    * The global running sum is TWO-PHASE so it scales: a within-block
    * cumulative sum (windows partitioned by doc_id-range blocks —
    * distributed), then block offsets from a cumulative sum over the
    * tiny per-block totals relation (the only global window, #blocks
    * rows), broadcast back. No single-partition pass over the corpus —
    * the naive `Window.orderBy(doc_id)` over all docs would serialize
    * 100 TB through one task. */
  /** [[seqPacking]]'s lazy plan, its base persisted in `s`, for plan
    * inspection (ScaleSpec) and the public wrapper. */
  private[graft] def seqPackingPlan(s: Scope, docs: DataFrame, capacity: Int,
      blockSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the tokenized base feeds BOTH the per-block cumsum and the block
    // totals; persisting it (24 bytes/doc — text never enters the cache)
    // keeps the corpus scan + tokenize single-pass
    val base = s.persist(docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("blk", expr(s"doc_id div $blockSize")))
    val wIn = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val partial = base
      .withColumn("in_blk", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
    val wBlk = Window.orderBy(col("blk")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("blk")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("boff", coalesce(sum(col("bt")).over(wBlk), lit(0L)))
      .select(col("blk"), col("boff"))
    partial.join(broadcast(offsets), "blk")
      .withColumn("tok_offset", col("boff") + col("in_blk"))
      .withColumn("first_pack", expr(s"tok_offset div $capacity"))
      .withColumn("last_pack", expr(s"(tok_offset + n_tokens - 1) div $capacity"))
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        col("first_pack"), col("last_pack"),
        (col("last_pack") - col("first_pack") + 1).as("n_packs"))
  }

  def seqPacking(docs: DataFrame, capacity: Int = 2048, blockSize: Long = 1000L): DataFrame =
    Scope { s =>
      // eager (6 narrow columns/doc) so the cached base can be released
      seqPackingPlan(s, docs, capacity, blockSize).localCheckpoint(true)
    }

  /** Sparse TF-IDF cosine similarity via an inverted-index join — the
    * at-scale sparse sibling of the dense-vector paths in Similarity:
    * no embeddings needed, candidates come from SHARED TERMS instead of
    * LSH buckets. Terms are hashed 3-gram shingles (60-bit portable
    * hash, so the postings join shuffles longs, not strings); weights
    * are tf·ln(N/df); pairs with truncated cosine >= `minCos` survive.
    *
    * Scale design: the df <= `maxDf` prefilter is the load-bearing
    * guard — it caps every posting list, so the term self-join fans
    * out at most maxDf²/2 pairs per term (stop-shingles would
    * otherwise fan out quadratically in corpus size, the classic
    * inverted-index hot-key). Dropping ubiquitous terms also loses
    * nothing: their idf ≈ 0 contributes noise, not signal. The
    * weights table is persisted once and feeds both join arms + the
    * norm table; all joins are equi-joins on term or doc_id.
    *
    * Membership parity: cosine = dot/(na·nb) uses only IEEE-exact ops
    * (·, /, sqrt) over weights both engines derive identically, and
    * the threshold compares the TRUNCATED value, so row membership
    * can't flip on an engine's last ulp. EXACT-DUP pairs (identical
    * texts) sit ON the cos = 1 grid point where float summation order
    * decides which side of 1.0 each engine lands — those pairs are
    * pinned to exactly 1.0 via a text-hash equality (cosine of
    * identical texts is 1 by definition). */
  def sparseSim(docs: DataFrame, maxDf: Long = 50L, minCos: Double = 0.2): DataFrame = Scope { s =>
    val tf = shingleRows(graft.functions.Portable.spread(docs, col("doc_id")), 3)
      .select(col("doc_id"), hash60(col("s")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("nd"))
    import org.apache.spark.sql.expressions.Window
    // document frequency as a COUNT WINDOW over term (tf is distinct
    // per (doc, term)) — one pass over tf instead of a groupBy branch
    // + join back, which would compute the whole shingle pipeline
    // twice; the window's term-shuffle is the same exchange the
    // postings self-join needs anyway
    val dfW = Window.partitionBy(col("term"))
    // df < nd as well: a term in EVERY doc has weight tf·ln(1) = 0 —
    // zero contribution to dot and norm, but a doc whose surviving
    // terms were ALL such would get norm 0 and a NaN cosine (which
    // Spark's >= admits and SQL NULL-division drops — an engine split)
    val w = s.persist(tf.withColumn("df", count(lit(1)).over(dfW))
      .filter(col("df") <= maxDf)
      .crossJoin(broadcast(n))
      .filter(col("df") < col("nd"))
      .select(col("doc_id"), col("term"),
        (col("tf") * log(col("nd").cast("double") / col("df"))).as("w")))
    val norms = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .join(docs.select(col("doc_id"), md5(col("text")).as("th")), "doc_id")
    val dots = w.select(col("term"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .join(w.select(col("term"), col("doc_id").as("doc_b"), col("w").as("wb")), Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"), count(lit(1)).as("n_terms"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na"),
        col("th").as("ha")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb"),
        col("th").as("hb")), "doc_b")
      .withColumn("cos_sim", when(col("ha") === col("hb"), lit(1.0))
        .otherwise(trunc4(col("dot") / (col("na") * col("nb")))))
      .filter(col("cos_sim") >= minCos)
      .select(col("doc_a"), col("doc_b"), col("n_terms"), col("cos_sim"))
      .localCheckpoint(true) // small survivor set; lets the weights cache go
  }

  /** Deterministic stratified sampling: the n smallest md5-ranked docs
    * per language — a fixed-size per-stratum sample regardless of
    * stratum skew (uniform `hashSample` keeps the majority language's
    * dominance; a training mix wants controlled per-language counts).
    * The rank window partitions by lang, so work distributes across
    * strata; ordering by the portable 60-bit hash makes the sample
    * reproducible across engines and runs. */
  def stratifiedSample(docs: DataFrame, n: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(hash60(concat(lit("strat|"), col("doc_id"))), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= n)
  }

  /** Deterministic WEIGHTED Bernoulli sampling: each doc is kept with
    * probability proportional to its length (capped at 1) — how a
    * training mix up-weights long documents without a second pass. The
    * coin is the portable 60-bit hash of the doc id reduced mod 1e6
    * against an INTEGER threshold floor(p·1e6), so the keep decision is
    * bit-identical in any engine and stable across runs/partitions
    * (`rand()` would be neither). Shuffle-free: pure row predicate. */
  def weightedSample(docs: DataFrame, scaleChars: Double = 2000.0): DataFrame = {
    val p = least(lit(1.0), col("n_chars").cast("double") / scaleChars)
    docs
      .withColumn("coin", pmod(hash60(concat(lit("wsamp|"), col("doc_id"))), lit(1000000L)))
      .filter(col("coin") < floor(p * 1000000).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("coin"))
  }

  /** Deterministic train/val/test split (80/10/10 by hashed doc id) +
    * per-(lang, split) counts — the assignment every training pipeline
    * needs to be REPRODUCIBLE and leakage-free: membership depends only
    * on the doc id, so re-runs, late-arriving shards, and other engines
    * agree; a doc can never migrate between splits as the corpus grows
    * (mod-100 bucketing, not rank-based percentiles). */
  def trainSplit(docs: DataFrame): DataFrame = {
    val bucket = pmod(hash60(concat(lit("split|"), col("doc_id"))), lit(100L))
    docs
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars"))
  }

  /** The composed corpus-cleaning pipeline, end to end in ONE lazy
    * plan: messy input → [[normalize]] → quality gate (≥ 20 tokens) →
    * exact dedup on normalized content (keep lowest id) → per-language
    * survivor counts + token volume. Shows the L4 operators compose the
    * way a real pipeline chains them — Catalyst sees the whole chain,
    * so the normalize expressions fuse into the scan projection and the
    * only shuffles are the dedup hash-agg and the final tiny lang agg. */
  def corpusPipeline(docs: DataFrame): DataFrame = {
    val cleaned = perturbed(docs)
      .select(col("doc_id"), normalize(col("text")).as("nt"))
      .withColumn("n_tokens", size(tokens(col("nt"))).cast("long"))
      .filter(col("n_tokens") >= 20)
    // same normalized text ⇒ same token count, so max() just carries it
    val survivors = cleaned.groupBy(md5(col("nt")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), max(col("n_tokens")).as("n_tokens"))
    survivors.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("n_tokens"))
  }

  /** Corpus term statistics: term frequency + document frequency. */
  def termStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))

  /** TF-IDF: top-k tokens per document by tf·ln(N/df). The corpus size
    * N broadcasts (always 1 row); the per-token document-frequency table
    * is deliberately NOT hinted — vocabulary grows with the corpus
    * (heavy-tailed junk tokens), so a forced broadcast is a driver OOM
    * at 100 TB. The tf⋈df join is an equi-join on the token, and AQE
    * still picks broadcast at small scale when df actually fits. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("nd"))
    val scored = tf.join(df, "t").crossJoin(broadcast(n))
      .withColumn("s", col("tf") * log(col("nd").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s").desc, col("t"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("t").as("token"), col("tf"),
        trunc4(col("s")).as("tfidf"), col("rnk"))
  }

  /** Hashing-trick feature extraction (Weinberger et al. 2009, the
    * fixed-width sparse featurizer behind Vowpal-Wabbit-style linear
    * models and fastText's bucket embeddings): every token hashes to
    * one of `buckets` feature slots, with a second independent hash
    * bit choosing the sign so colliding tokens cancel in expectation
    * rather than bias upward. Emitted per document: the top-`k` slots
    * by |weight| — the sparse feature vector a downstream classifier
    * consumes, without any corpus-wide vocabulary to build, broadcast,
    * or keep consistent between training runs (THE property that makes
    * this the 100 TB featurizer: zero global state, pure row-local
    * hashing).
    *
    * Both hashes are md5-derived ([[graft.functions.TextHash.hash60]],
    * the codegen'd native expression), so the oracle replays them
    * exactly; weights are signed integer counts — engine-exact.
    *
    * Scale shape: `spread` keys the corpus by doc_id once, so the
    * (doc_id, bucket) hash aggregate AND the per-doc top-k window both
    * reuse that partitioning — Spark's ClusteredDistribution accepts a
    * subset-keyed partitioning, so ONE exchange of document rows total;
    * the aggregate combines map-side and the shuffle after it carries
    * at most min(|tokens|, buckets) rows per document, never raw
    * tokens. The window is per-doc top-k (bounded fan-in), not a
    * global sort. */
  def featureHash(docs: DataFrame, buckets: Int = 64, k: Int = 8): DataFrame = {
    val tok = graft.functions.Portable.spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val fv = tok
      .select(col("doc_id"), (hash60(col("t")) % buckets).as("bucket"),
        when(hash60(concat(lit("sign|"), col("t"))) % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("weight"), count(lit(1)).as("n_tokens"))
    val byMag = Window.partitionBy(col("doc_id"))
      .orderBy(abs(col("weight")).desc, col("bucket"))
    fv.withColumn("rnk", row_number().over(byMag).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("bucket"), col("weight"),
        col("n_tokens"), col("rnk"))
  }

  /** Gopher-style repetition quality metrics — the filter family the
    * Gopher/MassiveText pipeline applies after basic quality scoring:
    * a document dominated by a few repeated n-grams is boilerplate or
    * spam, not prose. Per doc:
    *  - `top_bigram_frac` — instances of the single most frequent
    *    bigram / all bigram instances;
    *  - `dup_bigram_frac` — instances of any bigram occurring ≥ 2
    *    times / all bigram instances;
    *  - `dup_trigram_frac` — 1 − distinct/total trigram instances;
    *  - `verdict` — 'repetitive' above either threshold, else 'ok'
    *    (compared on the truncated values, so the label can't flip on
    *    an engine's last ulp).
    *
    * Scale shape: ONE token pass (posexplode + two `lead`s over the
    * doc_id partitioning) emits both gram sizes via a tagged explode —
    * not one shingle pipeline per n, which would scan the corpus
    * twice. Then two hash aggregates, (doc, n, gram) → (doc), both
    * map-side combined; the shuffles carry gram hashes and counts,
    * never document text. Thresholds follow Gopher's shape (top-gram
    * fraction 0.2; duplicate fraction 0.1) — length-robust: a short
    * all-distinct doc has top frac 1/(n−1), which must NOT flag, so
    * the top threshold sits well above 1/9 (the corpus's 10-token
    * minimum); corpus dup2 spans 0–0.27 around the 0.1 cut. */
  def repetition(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spreadDocs = graft.functions.Portable.spread(docs, col("doc_id"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val tok = spreadDocs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "t")))
      .withColumn("n_toks", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("t1", lead(col("t"), 1).over(byPos))
      .withColumn("t2", lead(col("t"), 2).over(byPos))
    val grams = tok.select(col("doc_id"), explode(array(
        struct(lit(2).as("n"), when(col("i") <= col("n_toks") - 2,
          concat_ws(" ", col("t"), col("t1"))).as("s")),
        struct(lit(3).as("n"), when(col("i") <= col("n_toks") - 3,
          concat_ws(" ", col("t"), col("t1"), col("t2"))).as("s")))).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.s").as("s"))
      .filter(col("s").isNotNull)
    // distinct3 = row count of (n=3) gram groups; total3 = Σ counts
    val m = grams.groupBy(col("doc_id"), col("n"), col("s"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(when(col("n") === 2, col("c")).otherwise(0L)).as("total2"),
        max(when(col("n") === 2, col("c"))).as("top2"),
        sum(when(col("n") === 2 && col("c") >= 2, col("c")).otherwise(0L)).as("dup2"),
        sum(when(col("n") === 3, col("c")).otherwise(0L)).as("total3"),
        sum(when(col("n") === 3, 1L).otherwise(0L)).as("distinct3"))
    val top2F = trunc4(col("top2").cast("double") / col("total2"))
    val dup2F = trunc4(col("dup2").cast("double") / col("total2"))
    val dup3F = trunc4((col("total3") - col("distinct3")).cast("double") / col("total3"))
    m.filter(col("total3") > 0) // guard: <3-token docs have no trigram base
      .select(col("doc_id"), col("total2").as("n_bigrams"),
        top2F.as("top_bigram_frac"), dup2F.as("dup_bigram_frac"),
        dup3F.as("dup_trigram_frac"),
        when(top2F >= 0.2 || dup2F >= 0.1, "repetitive").otherwise("ok").as("verdict"))
  }

  /** Zipf-law fit of the corpus frequency spectrum, per language: the
    * least-squares slope/intercept of ln(tf) against ln(rank) over the
    * top-`topK` terms — the one-number diagnostic a corpus pipeline
    * watches for degenerate inputs (natural language sits near slope
    * −1; boilerplate/spam flattens it, template floods steepen it).
    *
    * Scale shape: term counts are one hash-agg; the rank window
    * partitions by language and the regression runs over ≤ topK rows
    * per language — the fit relation is FIXED-SIZE however large the
    * corpus. Engine-exact: ln(tf)/ln(rank) are quantized
    * `floor(ln·2^20)` to integers, so the four regression sums are
    * exact in any merge order (x ≤ ln(topK)·2^20 ≈ 7e6 ⇒ Σx² ≤ 5e16,
    * far under 2^63); n·Sxy would overflow Long, so the FINAL combine
    * casts the exact sums to double and both engines run the identical
    * expression sequence (the q_stats_exact recipe). Groups need ≥ 10
    * points for a meaningful line; smaller languages are dropped
    * identically on both sides. */
  def zipfFit(docs: DataFrame, topK: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val QL = 1048576.0 // 2^20: exponent-shift-exact quantization scale
    val tf = docs.select(col("lang"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("tf"))
    val ranked = tf.withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("tf").desc, col("t"))))
      .filter(col("rnk") <= topK)
      .select(col("lang"),
        floor(log(col("rnk").cast("double")) * QL).cast("long").as("x"),
        floor(log(col("tf").cast("double")) * QL).cast("long").as("y"))
    val sums = ranked.groupBy(col("lang")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val (nd, sxd, syd, sxxd, sxyd) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxx").cast("double"), col("sxy").cast("double"))
    val slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    sums.filter(col("n") >= 10)
      .select(col("lang"), col("n").as("n_terms"),
        trunc4(slope).as("slope"), // scale-free: the 2^20 on both axes cancels
        trunc4((syd - slope * sxd) / nd / QL).as("intercept"))
  }

  /** Heaps'-law vocabulary growth curve — V(N) = distinct tokens among
    * the corpus's first N tokens (docs concatenated in doc_id order),
    * at the 8 geometric checkpoints N = T/2⁷ … T. The curve answers
    * the corpus-planning question Zipf ([[zipfFit]]) answers for
    * frequency: "how fast does NEW vocabulary arrive as the corpus
    * grows" — the per-segment slope β (V ∝ N^β, Heaps' law) is the
    * standard sub-linearity diagnostic for crawl dedup health (a β
    * near 1 means the crawl is still surfacing novel text; near 0,
    * it's recrawling itself).
    *
    * Scale: each token's GLOBAL position = its doc's token offset + its
    * in-doc index. Doc offsets reuse [[seqPackingPlan]]'s two-phase
    * block cumsum (within-block window + tiny per-block totals — never
    * a global window over the fact); positions then need ONE
    * co-partitioned join of the narrow offsets onto the exploded
    * tokens, one groupBy token for first positions (|vocab| rows), and
    * a broadcast of the ≤8-row checkpoint relation. β quantizes each ln
    * to `floor(ln·2^20)` longs (the [[zipfFit]] recipe) so the slope is
    * a ratio of exact integer differences, trunc4'd — merge-order and
    * last-ulp immune on both engines. */
  def heapsLaw(docs: DataFrame, blockSize: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val QL = 1048576.0 // 2^20: exponent-shift-exact quantization scale
    val (firstPos, tExact) = Scope { s =>
      val packed = seqPackingPlan(s, docs, 2048, blockSize)
      val offsets = packed.select(col("doc_id"), col("tok_offset"))
      (graft.functions.Portable.spread(docs, col("doc_id"))
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "w")))
        .join(offsets, "doc_id")
        .groupBy(col("w"))
        .agg(min(col("tok_offset") + col("i")).as("fp"))
        .localCheckpoint(true), // |vocab| narrow rows
      // exact token total = last doc's offset + its count: 1 row, eager so
      // the packing cache can be released before the curve plan runs
      packed.agg(max(col("tok_offset") + col("n_tokens")).as("t"))
        .localCheckpoint(true))
    }
    val tt = firstPos.sparkSession.range(8).select(col("id").cast("int").as("k"))
    val ck = tExact.crossJoin(broadcast(tt))
      .select(expr("t div cast(pow(2, k) as bigint)").as("n_prefix"))
      .filter(col("n_prefix") > 0).distinct() // tiny corpora: drop N=0 rungs
    val curve = firstPos.crossJoin(broadcast(ck))
      .filter(col("fp") < col("n_prefix")) // fp is 0-based: first N tokens
      .groupBy(col("n_prefix")).agg(count(lit(1)).as("vocab"))
      .select(col("n_prefix"), col("vocab"),
        floor(log(col("n_prefix").cast("double")) * QL).cast("long").as("x"),
        floor(log(col("vocab").cast("double")) * QL).cast("long").as("y"))
    val byN = Window.orderBy(col("n_prefix")) // ≤8-row collapsed relation
    curve
      .withColumn("px", lag(col("x"), 1).over(byN))
      .withColumn("py", lag(col("y"), 1).over(byN))
      .select(col("n_prefix"), col("vocab"),
        when(col("px").isNotNull, trunc4(
          (col("y") - col("py")).cast("double") /
            (col("x") - col("px")).cast("double"))).as("beta"))
  }

  /** PII regex patterns shared by the Spark plan and the oracle SQL —
    * conservative classes only (no shorthand like \d, no lookaround),
    * so the Java regex engine and DuckDB's RE2 match identically. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Deterministic synthetic PII injection: the corpus is clean
    * lowercase prose (no emails/phones/IPs to find), which is exactly
    * what a redaction operator cannot assume — so, like [[perturbed]],
    * we derive a known contamination from the doc id: every 5th doc
    * gains an email, the next a phone, the next an IPv4; the rest stay
    * clean. Pure row expressions — the injection is part of the scan
    * projection. */
  private[graft] def withPii(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val injected = when(id % 5 === 0,
        concat(col("text"), lit(" contact user"), id.cast("string"),
          lit("@mail.example.com now")))
      .when(id % 5 === 1,
        concat(col("text"), lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0")))
      .when(id % 5 === 2,
        concat(col("text"), lit(" from 10."), (id % 256).cast("string"),
          lit("."), expr("doc_id div 256 % 256").cast("string"), lit(".77")))
      .otherwise(col("text"))
    docs.select(col("doc_id"), injected.as("text"))
  }

  /** PII redaction — the scrub pass a training corpus runs before
    * anything is retained: count and replace emails, then phones, then
    * IPv4s (fixed order, so overlapping matches resolve identically in
    * any engine) with typed placeholder tags. Counts are taken on the
    * pre-redaction text per pattern; the patterns are disjoint by
    * construction (emails carry no hyphen-digit runs, phones no dots).
    * Shuffle-free: the entire operator is one codegen'd projection over
    * the scan — at 100 TB it runs at read speed. */
  def redactPii(docs: DataFrame): DataFrame = {
    val d = withPii(docs)
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      col("text"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")
    d.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(col("text"), lit(IpRe), lit(0))).cast("long").as("n_ips"),
      length(redacted).cast("long").as("n_chars_redacted"),
      md5(redacted).as("redact_hash"))
  }

  /** Learn a BPE merge list from the corpus — the standard two-regime
    * tokenizer-training shape (Sennrich et al. 2016): ONE corpus-sized
    * pass builds the (word, frequency) vocabulary, then the merge loop
    * runs driver-side over that vocabulary, one merge per round — the
    * textbook sequential learner the DuckDB oracle unrolls
    * ([[bpeOracleCtes]]): count adjacent symbol pairs weighted by word
    * frequency, merge the (max count, lexicographically-smallest) pair
    * with [[graft.functions.Bpe.mergeOnce]], repeat.
    *
    * Pair counts include overlapping occurrences ("aaa" counts (a,a)
    * twice) — the textbook counting; the REWRITE is leftmost-
    * nonoverlapping, matching the apply side exactly. */
  def bpeLearn(docs: DataFrame, nMerges: Int = 32): Seq[String] = {
    // The word-count aggregate is the only corpus-sized work a BPE
    // learner has; each merge round is a pass over the in-memory
    // vocabulary, not a Spark action. Symbols split by CODE POINT
    // (Spark's substring(w, i, 1) unit) and pair ties compare as
    // unsigned UTF-8 bytes, the order the oracle's string sort uses.
    //
    // The collect is bounded by the LANGUAGE, not the corpus: one row
    // per distinct whitespace word, a set that grows sublinearly in the
    // corpus (Heaps' law) — production trainers (SentencePiece, the
    // GPT-2 reference) hold exactly these word counts in memory.
    val vocabRows = docs
      .select(explode(graft.functions.TextHash.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .collect()
    def symsOf(w: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    // unsigned UTF-8 byte order (UTF8String.compareTo's contract)
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var vocab: Array[(Long, Array[String])] = vocabRows.map(r =>
      (r.getAs[Long]("f"), symsOf(r.getAs[String]("w"))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val counts = new java.util.HashMap[String, java.lang.Long]()
      vocab.foreach { case (f, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge(syms(i) + " " + syms(i + 1), java.lang.Long.valueOf(f),
            (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestP: String = null
        var bestN = Long.MinValue
        counts.forEach { (p, n) =>
          if (n.longValue > bestN ||
              (n.longValue == bestN && utf8Lt(p, bestP))) {
            bestN = n.longValue; bestP = p
          }
        }
        merges += bestP
        val Array(x, y) = bestP.split(" ", 2)
        vocab = vocab.map { case (f, syms) =>
          (f, graft.functions.Bpe.mergeOnce(syms, x, y))
        }
      }
    }
    merges.toSeq
  }

  /** Per-doc tokenizer accounting under a corpus-learned BPE: subword
    * count next to whitespace-token and char counts, and the
    * chars-per-token compression every training-cost estimate starts
    * from. The apply side is one codegen'd projection over the scan —
    * at 100 TB the learner's vocab rounds are noise and this runs at
    * read speed.
    *
    * Oracled since round 8: the DuckDB side replays the textbook
    * ONE-merge-per-round sequential learner, UNROLLED `nMerges`
    * rounds deep as generated SQL ([[bpeOracleCtes]]) — so the gate
    * simultaneously checks the per-doc accounting AND the learner's
    * merge order (a single reordered merge changes the final vocab and
    * every count goes red). The greedy
    * lowest-rank apply equals in-learned-order application (each
    * merge's operands exist only after all lower-rank merges — the
    * GPT-2 encoder equivalence), which is what lets the oracle score
    * documents from the final round-32 vocab. */
  def bpeStats(docs: DataFrame, nMerges: Int = 32): DataFrame = {
    val merges = bpeLearn(docs, nMerges)
    docs.select(col("doc_id"), col("n_chars"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(graft.functions.Bpe.bpeTokens(col("text"), merges)).cast("long").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        trunc4(col("n_chars").cast("double") / col("n_bpe_tokens")))
  }

  /** Corpus-familiarity quality score — the integer-exact stand-in for
    * the LM-perplexity filter a pretraining pipeline runs (CCNet-style):
    * a document whose word bigrams are corpus-common reads "fluent", one
    * dominated by corpus-unique bigrams is noise-suspect. The model and
    * the scoring share ONE pass: bigram rows → a count window on the
    * 60-bit gram hash (the sparseSim df discipline — no separate model
    * aggregate + join back) → per-doc mean corpus count and unique-gram
    * ratio. Integer sums, one truncated division at the end — engine-
    * exact. Two shuffles total (gram hash, then doc_id), both narrow
    * (doc_id, hash, count); hot stop-bigrams skew the gh partition at
    * scale, which AQE's skew split absorbs because the window is a
    * plain count (map-side combinable after the skew split). Docs with
    * fewer than 2 tokens carry no bigram and are excluded — same
    * exclusion in the oracle. */
  def familiarity(docs: DataFrame): DataFrame = {
    val grams = graft.functions.TextHash.shingleRows(docs, n = 2)
      .select(col("doc_id"), graft.functions.TextHash.hash60(col("s")).as("gh"))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    grams
      .withColumn("cnt", count(lit(1)).over(byGram))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("cnt_sum"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_bigrams"),
        trunc4(col("cnt_sum").cast("double") / col("n_bigrams")).as("familiarity"),
        trunc4(col("n_unique").cast("double") / col("n_bigrams")).as("uniq_ratio"))
  }

  /** The learned BPE merge table as a relation: (rnk, pair) in learned
    * order — the artifact a tokenizer build step persists, and the
    * direct diagnosable surface for the sequential-replay oracle (a
    * divergence names the exact round). */
  def bpeMerges(docs: DataFrame, nMerges: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, nMerges).zipWithIndex
      .map { case (p, i) => ((i + 1).toLong, p) }
      .toDF("rnk", "pair")
  }

  /** Per-source tokenizer fertility under the corpus-learned BPE —
    * the multilingual-tokenizer equity readout (how many subwords a
    * source pays per word, and how many characters each subword
    * carries): the number a vocab-sizing decision is judged by, per
    * source rather than per document ([[bpeStats]] is the per-doc
    * ledger). The apply side is the same codegen'd [[graft.functions
    * .Bpe.BpeTokens]] projection — at 100 TB this is one map-side
    * pass collapsing straight to |sources| rows. Oracled against the
    * same sequential-replay vocab as q_text_bpe. */
  def bpeFertility(docs: DataFrame, nMerges: Int = 32): DataFrame = {
    val merges = bpeLearn(docs, nMerges)
    val toks = graft.functions.TextHash.tokens(col("text"))
    docs.select(col("source"),
        size(filter(toks, t => length(t) > 0)).cast("long").as("nw"),
        length(translate(col("text"), " ", "")).cast("long").as("nc"),
        size(graft.functions.Bpe.bpeTokens(col("text"), merges)).cast("long").as("nb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("nb")).as("n_subtokens"), sum(col("nc")).as("n_word_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_subtokens"),
        trunc4(col("n_subtokens") / col("n_words")).as("fertility"),
        trunc4(col("n_word_chars") / col("n_subtokens")).as("chars_per_subtoken"))
  }

  /** T5-style span-corruption plan (Raffel et al. 2020): the masked-
    * span schedule a denoising pretrain materializes per document.
    * Deterministic and NON-OVERLAPPING by construction: token
    * positions tile into `block`-sized blocks, each block masks one
    * `spanLen`-token span whose offset is the 60-bit hash of
    * (doc, block) mod (block − spanLen + 1) — ~spanLen/block of
    * tokens masked (15% at 3/20, the T5 default), reproducible across
    * engines/runs/shards, and no sequential overlap-resolution scan
    * (the classic span-sampling loop) is ever needed. Pure per-row
    * arithmetic: explode blocks, no shuffle at any scale. */
  def spanCorruption(docs: DataFrame, block: Int = 20, spanLen: Int = 3): DataFrame = {
    docs
      .select(col("doc_id"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"), col("n_tokens"),
        explode(expr(s"sequence(0, (n_tokens - 1) div $block)")).as("blk"))
      .select(col("doc_id"), col("n_tokens"), col("blk"),
        (col("blk") * block +
          pmod(hash60(concat(lit("span|"), col("doc_id").cast("string"),
            lit("#"), col("blk").cast("string"))), lit((block - spanLen + 1).toLong))
          + 1).as("start_pos"))
      .filter(col("start_pos") <= col("n_tokens"))
      .select(col("doc_id"), (col("blk") + 1).as("span_id"), col("n_tokens"),
        col("start_pos"),
        least(lit(spanLen.toLong), col("n_tokens") - col("start_pos") + 1).as("span_len"))
  }

  /** Temperature-sampled source interleaving (τ = 2, the multilingual
    * pretraining standard — Conneau et al. 2020 sample sources ∝
    * n^(1/τ)): the GLOBAL training order in which each source's
    * hash-shuffled documents appear, source s's r-th doc at key
    * r/√n_s — so smaller sources surface proportionally earlier
    * (up-sampled) while every source stays internally shuffled. The
    * first `topN` positions are the emitted schedule head.
    *
    * Scale: per-source shuffle ranks are PARTITIONED windows; the
    * global head is orderBy+limit — a parallel TakeOrdered top-k,
    * never a one-task global sort; the final row_number runs over the
    * ≤ topN-row result. Key ties are exact: identical (r, n_s)
    * integers give identical IEEE r/√n_s in both engines, and
    * (source, r) totalizes the order. */
  def trainMixOrder(docs: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(hash60(concat(lit("mix|"), col("doc_id").cast("string"))), col("doc_id"))
    val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("r", row_number().over(w).cast("long"))
      .join(broadcast(sizes), "source")
      .withColumn("mkey", col("r") / sqrt(col("ns")))
      .orderBy(col("mkey"), col("source"), col("r")).limit(topN)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("mkey"), col("source"), col("r"))).cast("long"))
      .select(col("pos"), col("doc_id"), col("source"), col("r"))
  }

  /** BPE compression curve — corpus chars-per-subtoken as a function
    * of merge-table size (k ∈ 8/16/32): the tokenizer-SIZING readout
    * ([[vocabCoverage]] asks where a fixed word vocab stops paying;
    * this asks how much each merge-budget doubling buys). ONE learner
    * run; each point applies a rank-PREFIX of the merge list (a BPE
    * merge table's prefixes are themselves valid merge tables — the
    * property that makes the curve one pass instead of three learns).
    * Oracled from the same sequential replay at rounds 8/16/32 — the
    * intermediate vocabs the unrolled CTE chain already materializes. */
  def bpeCurve(docs: DataFrame, ks: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val merges = bpeLearn(docs, ks.max)
    val perK = ks.map { k =>
      docs.select(lit(k.toLong).as("n_merges"),
        length(translate(col("text"), " ", "")).cast("long").as("nc"),
        size(graft.functions.Bpe.bpeTokens(col("text"), merges.take(k)))
          .cast("long").as("nb"))
    }
    perK.reduce(_.unionByName(_))
      .groupBy(col("n_merges"))
      .agg(sum(col("nb")).as("n_subtokens"), sum(col("nc")).as("n_chars"))
      .select(col("n_merges"), col("n_subtokens"),
        trunc4(col("n_chars") / col("n_subtokens")).as("chars_per_subtoken"))
  }

  /** DuckDB CTE chain replaying the SEQUENTIAL (one merge per round)
    * BPE learner, unrolled `nMerges` rounds — generated, not
    * hand-written. Round k from vocab v(k-1):
    *   p_k  pair counts (overlap-counting, like the learner),
    *   m_k  the argmax pair (count DESC, pair ASC — the learner's
    *        tie-break; a chr(1) sentinel when the vocab is exhausted
    *        makes the round a no-op instead of emptying the chain),
    *   h_k  vocab positions flagged where (x, y) matches,
    *   k_k  LEFTMOST-NONOVERLAPPING selection: consecutive match runs
    *        (the "aaa"+(a,a) chain case) keep every other position —
    *        run grouping via pos − row_number, then (pos − run_start)
    *        even,
    *   v_k  the rewrite: merged symbol at kept positions, successor
    *        dropped, rebuilt in position order.
    * The final v(n) vocab scores documents (greedy lowest-rank apply ≡
    * in-order apply). ~6 CTEs × 32 rounds over a vocab-sized relation —
    * trivial for the oracle engine. */
  private def bpeOracleCtes(nMerges: Int): String = {
    val sentinel = "chr(1) || ' ' || chr(1)"
    val sb = new StringBuilder
    sb.append("v0 AS MATERIALIZED (SELECT w, count(*) AS f, " +
      "list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
      "WHERE length(w) > 0 GROUP BY w)")
    for (k <- 1 to nMerges) {
      val pv = s"v${k - 1}"
      sb.append(s", p$k AS MATERIALIZED (SELECT p, sum(f) AS n FROM (SELECT f, " +
        "unnest(list_transform(range(1, len(syms)), i -> syms[i] || ' ' || syms[i + 1])) AS p " +
        s"FROM $pv WHERE len(syms) >= 2) GROUP BY p)")
      sb.append(s", m$k AS (SELECT coalesce(" +
        s"(SELECT p FROM p$k ORDER BY n DESC, p LIMIT 1), $sentinel) AS p)")
      sb.append(s", s$k AS (SELECT string_split(p, ' ')[1] AS x, " +
        s"string_split(p, ' ')[2] AS y FROM m$k)")
      sb.append(s", h$k AS MATERIALIZED (SELECT e.w, e.f, e.syms, e.pos, e.syms[e.pos] AS sym, " +
        "(e.pos < len(e.syms) AND e.syms[e.pos] = s.x AND e.syms[e.pos + 1] = s.y) AS hit " +
        s"FROM (SELECT w, f, syms, unnest(range(1, len(syms) + 1)) AS pos FROM $pv) e " +
        s"CROSS JOIN s$k s)")
      sb.append(s", k$k AS MATERIALIZED (SELECT w, pos FROM " +
        "(SELECT w, pos, min(pos) OVER (PARTITION BY w, grp) AS p0 FROM " +
        "(SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp " +
        s"FROM h$k WHERE hit)) WHERE (pos - p0) % 2 = 0)")
      sb.append(s", v$k AS MATERIALIZED (SELECT h.w, h.f, " +
        "list(CASE WHEN kk.pos IS NOT NULL THEN h.sym || h.syms[h.pos + 1] " +
        "ELSE h.sym END ORDER BY h.pos) AS syms " +
        s"FROM h$k h LEFT JOIN k$k kk ON kk.w = h.w AND kk.pos = h.pos " +
        s"LEFT JOIN k$k kp ON kp.w = h.w AND kp.pos = h.pos - 1 " +
        "WHERE kp.pos IS NULL GROUP BY h.w, h.f)")
    }
    sb.toString
  }

  private[graft] def bpeMergesOracle(nMerges: Int = 32): String =
    "WITH " + bpeOracleCtes(nMerges) + ", mm AS (" +
      (1 to nMerges).map(k => s"SELECT $k AS rnk, p FROM m$k").mkString(" UNION ALL ") +
      ") SELECT rnk::BIGINT AS rnk, p AS pair FROM mm " +
      "WHERE p <> chr(1) || ' ' || chr(1) ORDER BY rnk"

  private[graft] def bpeCurveOracle(ks: Seq[Int] = Seq(8, 16, 32)): String =
    "WITH " + bpeOracleCtes(ks.max) +
      ", cvw AS MATERIALIZED (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w " +
      "FROM documents) WHERE length(w) > 0), " +
      "cvc AS (SELECT sum(length(w))::BIGINT AS nc FROM cvw), " +
      ks.map(k => s"cv$k AS (SELECT $k AS n_merges, sum(f.nb)::BIGINT AS n_subtokens " +
        s"FROM cvw JOIN (SELECT w, len(syms)::BIGINT AS nb FROM v$k) f USING (w))").mkString(", ") +
      " SELECT n_merges::BIGINT AS n_merges, n_subtokens, " +
      "floor(nc / n_subtokens * 10000) / 10000 AS chars_per_subtoken FROM (" +
      ks.map(k => s"SELECT * FROM cv$k").mkString(" UNION ALL ") + ") CROSS JOIN cvc"

  private[graft] def bpeStatsOracle(nMerges: Int = 32): String =
    "WITH " + bpeOracleCtes(nMerges) +
      s", fin AS (SELECT w, len(syms)::BIGINT AS nb FROM v$nMerges), " +
      "db AS (SELECT doc_id, sum(nb)::BIGINT AS n_bpe FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t " +
      "JOIN fin USING (w) GROUP BY doc_id) " +
      "SELECT d.doc_id, d.n_chars, " +
      "len(string_split(d.text, ' '))::BIGINT AS n_ws_tokens, " +
      "db.n_bpe AS n_bpe_tokens, " +
      "floor(d.n_chars::DOUBLE / db.n_bpe * 10000) / 10000 AS chars_per_token " +
      "FROM documents d JOIN db USING (doc_id)"

  /** Top-k PMI collocations: the word PAIRS that co-occur far more
    * than their marginals predict — the phrase-mining / tokenizer-
    * vocabulary signal (a pair with high lift is a candidate merge or
    * a boilerplate marker). PMI's exp, `lift = M·c_xy / (c_x·c_y)`,
    * ranks identically to PMI and needs NO log: every factor is an
    * exact BIGINT (M ≤ 10^8 · c_xy ≤ 10^6 stays far under 2^63, the
    * marginal product likewise), so the single double division is
    * bit-identical across engines and the ranking can't split on a
    * transcendental's last ulp. Marginals are positional (first /
    * second slot of the bigram relation), so one relation feeds all
    * three counts.
    *
    * Scale: the bigram stream collapses to distinct pairs in one
    * map-side-combined shuffle; the min-count filter cuts the pair
    * table BEFORE the marginal joins (broadcast at sandbox scale,
    * shuffle joins on w1/w2 at vocab scale); top-k is a global
    * sort+limit (TakeOrderedAndProject — per-partition partial top-k,
    * no single-partition window). */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 25): DataFrame = Scope { s =>
    import org.apache.spark.sql.expressions.Window
    val grams = s.persist(graft.functions.TextHash.shingleRows(docs, n = 2)
      .select(split(col("s"), " ").getItem(0).as("w1"),
        split(col("s"), " ").getItem(1).as("w2")))
    val pairs = grams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val m = grams.agg(count(lit(1)).as("m_total"))
    val cx = grams.groupBy(col("w1")).agg(count(lit(1)).as("c_x"))
    val cy = grams.groupBy(col("w2")).agg(count(lit(1)).as("c_y"))
    pairs
      .join(broadcast(cx.withColumnRenamed("w1", "wx")), col("w1") === col("wx"))
      .join(broadcast(cy.withColumnRenamed("w2", "wy")), col("w2") === col("wy"))
      .crossJoin(broadcast(m))
      .select(col("w1"), col("w2"), col("c_xy"),
        trunc4((col("m_total").cast("decimal(38,0)") * col("c_xy")).cast("double") /
          (col("c_x").cast("decimal(38,0)") * col("c_y")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("lift").desc, col("w1"), col("w2"))).cast("long"))
      .localCheckpoint(true) // k rows; materialize BEFORE the release
  }

  /** Per-source corpus report card: the first dashboard a data curator
    * reads before mixing sources into a training set — volume, token
    * mass, length profile, and the within-source exact-duplicate rate,
    * per (source, lang). One documents scan feeds everything; the
    * duplicate count is a window over the text hash (no self-join).
    * All ratios derive from integer sums with one truncated division.
    *
    * Scale: the md5 window shuffles (source, hash) — narrow rows, the
    * text never rides past the hash projection; the report agg is
    * |sources×langs| groups, map-side combined. */
  def sourceReport(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docs.select(col("source"), col("lang"), col("n_chars"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      md5(col("text")).as("th"))
    val bySrcHash = Window.partitionBy(col("source"), col("th"))
    h.withColumn("copies", count(lit(1)).over(bySrcHash))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tokens_total"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(when(col("n_chars") > 500, 1L).otherwise(0L)).as("long_docs"))
      .select(col("source"), col("lang"), col("n_docs"), col("tokens_total"),
        graft.functions.Portable.trunc2(
          col("chars_total").cast("double") / col("n_docs")).as("mean_chars"),
        col("dup_docs"),
        graft.functions.Portable.trunc4(
          col("long_docs").cast("double") / col("n_docs")).as("long_ratio"))
  }

  /** Sequence-length distribution in power-of-2 buckets — the
    * histogram a packing/batching strategy is tuned against (what
    * fraction of docs exceed the context window; how much padding a
    * bucket-batching scheme saves). Bucket = floor(log2(n_tokens))
    * computed as integer BIT LENGTH (no float log to disagree on);
    * cumulative doc/token shares via a window over the ≤64-row bucket
    * table; one truncated division per ratio.
    *
    * Scale: one scan → |buckets| groups, map-side combined; the
    * cumulative window runs on the tiny bucket table. */
  def lengthBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val bucketed = t
      .withColumn("bucket", (length(bin(col("n_tokens"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
        min(col("n_tokens")).as("min_tokens"), max(col("n_tokens")).as("max_tokens"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = t.agg(count(lit(1)).as("total_docs"), sum(col("n_tokens")).as("total_tokens"))
    bucketed
      .withColumn("cum_docs", sum(col("n_docs")).over(cum))
      .withColumn("cum_tokens", sum(col("tokens")).over(cum))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_docs"), col("tokens"),
        col("min_tokens"), col("max_tokens"),
        trunc4(col("cum_docs").cast("double") / col("total_docs")).as("doc_share_le"),
        trunc4(col("cum_tokens").cast("double") / col("total_tokens")).as("token_share_le"))
  }

  /** Per-source contamination rate: which SOURCES leak benchmark
    * n-grams, and how hard — [[decontaminate]] flags documents, this
    * rolls the flags up to the acquisition decision (a source with a
    * high contaminated share gets dropped or re-filtered, not patched
    * doc by doc). Counts are integers; the one division is truncated.
    *
    * Scale: reuses the decontaminate shape (bench grams broadcast into
    * the training-side gram stream), then per-source totals join the
    * flagged-doc counts on the small (source) key set. */
  def sourceContamination(docs: DataFrame, n: Int = 5, benchMod: Long = 97L): DataFrame = {
    val flagged = decontaminate(docs, n, benchMod)
      .select(col("doc_id"), col("n_hits"))
    val train = docs.filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"), col("source"))
    train.join(flagged, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits").isNotNull, 1L).otherwise(0L)).as("n_contaminated"),
        sum(coalesce(col("n_hits"), lit(0L))).as("gram_hits"))
      .select(col("source"), col("n_docs"), col("n_contaminated"), col("gram_hits"),
        trunc4(col("n_contaminated").cast("double") / col("n_docs")).as("contam_rate"))
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    * significance-weighted sibling of [[pmiCollocations]]: PMI ranks
    * `once-next-to-once` pairs absurdly high (lift explodes as counts
    * shrink); the G² statistic asks how SURPRISING the co-occurrence
    * is given the marginals, so frequent-and-associated pairs win.
    * Same bigram relation and marginals as PMI; per pair, the 2×2
    * table (k11 bigram, k12 = c₁−k11, k21 = c₂−k11,
    * k22 = N−c₁−c₂+k11) feeds
    * G² = 2·(Σ k·ln k − Σ margins·ln margins + N·ln N).
    *
    * Determinism: every k is an exact BIGINT; G² is ONE textual float
    * expression (nine x·ln x terms in a fixed order — never an
    * aggregate over floats); ranks break ties by (llr, w1, w2).
    *
    * Scale: identical plan shape to PMI — bigram hash-agg, two
    * marginal hash-aggs broadcast back, rank over the ≥minCount pair
    * relation. */
  def llrCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 25): DataFrame = Scope { s =>
    import org.apache.spark.sql.expressions.Window
    def xlx(c: Column): Column =
      when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
    val grams = s.persist(graft.functions.TextHash.shingleRows(docs, n = 2)
      .select(split(col("s"), " ").getItem(0).as("w1"),
        split(col("s"), " ").getItem(1).as("w2")))
    val pairs = grams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("k11"))
      .filter(col("k11") >= minCount)
    val m = grams.agg(count(lit(1)).as("nn"))
    val cx = grams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val cy = grams.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val tabled = pairs
      .join(broadcast(cx.withColumnRenamed("w1", "wx")), col("w1") === col("wx"))
      .join(broadcast(cy.withColumnRenamed("w2", "wy")), col("w2") === col("wy"))
      .crossJoin(broadcast(m))
      .withColumn("k12", col("c1") - col("k11"))
      .withColumn("k21", col("c2") - col("k11"))
      .withColumn("k22", col("nn") - col("c1") - col("c2") + col("k11"))
    tabled
      .select(col("w1"), col("w2"), col("k11"), col("c1"), col("c2"),
        trunc4(lit(2.0) * (xlx(col("k11")) + xlx(col("k12")) + xlx(col("k21")) +
          xlx(col("k22")) - xlx(col("c1")) - xlx(col("k11") + col("k21")) -
          xlx(col("k12") + col("k22")) - xlx(col("nn") - col("c1")) +
          xlx(col("nn")))).as("llr"))
      .orderBy(col("llr").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("llr").desc, col("w1"), col("w2"))).cast("long"))
      .localCheckpoint(true) // k rows; materialize BEFORE the release
  }

  /** Chao1 unseen-species estimate (Chao 1984) per source — "how many
    * token types does this source REALLY have, beyond what we've
    * seen": D + f₁(f₁−1)/(2(f₂+1)) from the frequency-of-frequency
    * counts [[goodTuring]] already reads (Good–Turing prices the
    * PROBABILITY mass of the unseen; Chao1 counts the unseen TYPES —
    * together they answer how much a 100 TB crawl still has left).
    * The bias-corrected form stays finite at f₂ = 0. Coverage
    * Ĉ = 1 − f₁/n is the Turing estimate of how much of the token
    * stream the seen vocabulary explains.
    *
    * Scale: one (source, token) hash-agg (map-side combined), one
    * per-source rollup — [[goodTuring]]'s exact plan. */
  def chao1(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("n"))
    tf.groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        // f1·(f1−1) squares the singleton-type count — vocabulary-scale
        // (≫ 2^63 past ~3e9 singletons): DECIMAL product, one double
        // division (round-10 overflow audit)
        trunc4(col("n_types") +
          (col("f1").cast("decimal(38,0)") * (col("f1") - 1)).cast("double") /
            ((col("f2") + 1) * 2)).as("chao1_est"),
        trunc4(lit(1.0) - col("f1").cast("double") / col("n_tokens"))
          .as("coverage"))
  }

  // ---- driver wiring ----

  /** Per-document novelty score: the fraction of a doc's distinct
    * 3-gram shingles that NO earlier document (smaller doc_id —
    * corpus ingestion order) already contains. The training-data
    * curation signal behind "this crawl batch is 90% re-crawl": near
    * 1 = fresh content, near 0 = the corpus already knew it. The
    * containment/substring dedups answer "who copies whom" pairwise;
    * novelty is the per-doc marginal-information rollup that needs no
    * pair generation at all.
    *
    * Shape: distinct (doc, shingle) rows → one `min(doc_id)` hash-agg
    * per shingle (the global first-seen registry — exactly the
    * relation an incremental ingest keeps) → one equi-join back on
    * the shingle → per-doc counts. Work is |shingle rows|, never
    * pairs; every aggregate is map-side combinable; the registry join
    * key is the shingle itself, so hot shingles skew-split under AQE.
    * At 100 TB the first-seen registry is the persisted state and a
    * new batch joins against it instead of rebuilding — the
    * [[Dedup]] incremental-MinHash pattern without signatures. */
  def novelty(docs: DataFrame): DataFrame = Scope { s =>
    // feeds the first-seen registry AND the join back
    val g = s.persist(graft.functions.TextHash.shingleRows(
        graft.functions.Portable.spread(docs, col("doc_id")), 3)
      .select(col("doc_id"), col("s")).distinct())
    val firstSeen = g.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    g.join(firstSeen, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", graft.functions.Portable.trunc4(
        col("n_novel") / col("n_shingles")))
      .localCheckpoint(true) // one row per doc; releases the shingle cache
  }

  /** BM25 top-k retrieval (Robertson & Zaragoza 2009, the Okapi
    * ranking function every lexical search stack ships): score each
    * document against a query term set by
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avglen)) with
    * k1 = 1.2, b = 0.75 and the +1-smoothed idf
    * ln(1 + (N−df+0.5)/(df+0.5)). The query here is data-driven — the
    * `nq` highest-df corpus terms (ties by token) — so the op needs no
    * magic literals and exercises the worst retrieval case: terms that
    * hit MOST documents.
    *
    * Engine-portable scoring: each per-(doc, term) BM25 contribution
    * floors to a 1e6-scaled BIGINT (the [[dsirWeights]] trick), so
    * the per-doc score is an exact integer sum — no float merge-order
    * hazard — and the final top-k ordering is over BIGINTs.
    *
    * Scale shape: ONE tokenize pass persisted (feeds tf, df, and doc
    * lengths — all three reuse it); the query-term relation is nq rows
    * via TakeOrderedAndProject (never a global sort) and broadcasts;
    * tf⋈lens is an equi-join on doc_id (both sides carry the spread
    * partitioning); corpus stats broadcast as one row. The final
    * global rank sits behind `rnk <= k`, so Spark 4's
    * window-group-limit keeps k rows per partition before the single
    * merge — the [[Analytics]] shippingPriority precedent. */
  def bm25TopK(docs: DataFrame, k: Int = 10, nq: Int = 5): DataFrame = Scope { s =>
    // feeds tf, df, AND doc lengths
    val tok = s.persist(graft.functions.Portable.spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t")))
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfr = tok.groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
    val lens = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val stats = lens.agg(count(lit(1)).as("nd"), sum(col("len")).as("tt"))
    val qterms = dfr.orderBy(col("df").desc, col("t")).limit(nq)
    val scored = tf.join(broadcast(qterms), "t")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor((log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * ((col("len").cast("decimal(38,0)") * col("nd")).cast("double") / col("tt"))))) * 1e6)
          .cast("long").as("term_scaled"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_match_terms"), sum(col("term_scaled")).as("score_scaled"))
    val w = Window.orderBy(col("score_scaled").desc, col("doc_id"))
    perDoc
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("n_match_terms"), col("score_scaled"),
        trunc4(col("score_scaled") / 1e6).as("score"), col("rnk"))
      .localCheckpoint(true) // k rows; releases the token cache
  }

  /** Unigram-LM negative-log-likelihood scoring — the perplexity
    * filter of CCNet (Wenzek et al. 2020) reduced to the unigram model
    * an engine can train in one aggregate: every doc is scored by the
    * average −ln p(t) of its tokens under the add-1-smoothed corpus
    * unigram distribution p(t) = (tf+1)/(T+V). Low avg-NLL = common,
    * fluent-ish tokens; high = rare/junk vocabulary — the ranking a
    * pipeline thresholds for quality selection. (Production CCNet uses
    * an EXTERNAL KenLM; the self-trained unigram is the engine-
    * expressible stand-in with the identical pipeline shape: train
    * pass → per-token LUT → score pass.)
    *
    * Per-token logprobs floor to 1e6-scaled BIGINTs so doc scores are
    * exact integer sums ([[dsirWeights]] pattern). The LUT join is
    * deliberately NOT broadcast-hinted — vocabulary grows with the
    * corpus ([[tfidfTopK]]'s reasoning); AQE still picks broadcast when
    * it fits. One tokenize pass persisted; the per-doc sum reuses the
    * spread doc partitioning. */
  def unigramNll(docs: DataFrame): DataFrame = Scope { s =>
    // feeds the LM counts AND the scoring join
    val tok = s.persist(graft.functions.Portable.spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t")))
    val tfc = tok.groupBy(col("t")).agg(count(lit(1)).as("tf"))
    val tot = tfc.agg(sum(col("tf")).as("tt"), count(lit(1)).as("v"))
    val lut = tfc.crossJoin(broadcast(tot))
      .select(col("t"),
        floor(-log((col("tf") + 1) / (col("tt") + col("v"))) * 1e6)
          .cast("long").as("nll_term"))
    tok.join(lut, "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_term")).as("nll_scaled"))
      .withColumn("avg_nll", trunc4(col("nll_scaled") / 1e6 / col("n_tokens")))
      .localCheckpoint(true) // one row per doc; releases the token cache
  }

  /** Bigram-LM held-out scoring — [[unigramNll]]'s sequence-aware
    * sibling and one level closer to the real CCNet/KenLM filter:
    * train an add-1-smoothed bigram model p(t₂|t₁) = (c₂+1)/(c₁+V) on
    * the EVEN doc_ids, score the ODD doc_ids by average bigram NLL
    * plus their unseen-bigram rate. The held-out split is the point —
    * scoring the training docs rewards memorized boilerplate; a split
    * by doc-id parity is deterministic, engine-portable, and scales
    * without coordination. V = the training vocabulary of HISTORY
    * tokens; an unseen history scores 1/V exactly like add-1 says.
    *
    * Per-bigram logprobs floor to 1e6-scaled BIGINTs (exact integer
    * doc sums, [[unigramNll]] discipline). Bigrams come straight off
    * the token ARRAY (one transform per doc — no positional self-join
    * over the token stream); the train counts relation is vocabulary-
    * bounded, joined un-hinted so AQE broadcasts it while it fits. */
  def bigramLm(docs: DataFrame): DataFrame = Scope { s =>
    val toks = graft.functions.Portable.spread(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("tok"))
    // feeds the train counts AND the test scoring join
    val bi = s.persist(toks
      .select(col("doc_id"),
        explode(expr("transform(slice(tok, 1, size(tok) - 1), " +
          "(t, i) -> struct(t AS t1, element_at(tok, i + 2) AS t2))")).as("b"))
      .select(col("doc_id"), col("b.t1").as("t1"), col("b.t2").as("t2")))
    val train = bi.filter(pmod(col("doc_id"), lit(2)) === 0)
    val c2 = train.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy(col("t1")).agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    val scored = bi.filter(pmod(col("doc_id"), lit(2)) === 1)
      .join(c2, Seq("t1", "t2"), "left")
      .join(c1, Seq("t1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        when(col("c2").isNull, 1L).otherwise(0L).as("unseen"),
        floor(-log((coalesce(col("c2"), lit(0L)) + 1) /
          (coalesce(col("c1"), lit(0L)) + col("v"))) * 1e6)
          .cast("long").as("nll_term"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_term")).as("nll_scaled"),
        sum(col("unseen")).as("n_unseen"))
      .withColumn("avg_nll", trunc4(col("nll_scaled") / 1e6 / col("n_bigrams")))
      .withColumn("unseen_rate", trunc4(col("n_unseen") / col("n_bigrams")))
      .localCheckpoint(true) // one row per held-out doc; frees the cache
  }

  /** Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen &
    * Goodman 1999's KN-interpolated variant), held-out-scored — the
    * production smoothing next to [[bigramLm]]'s add-1 baseline. Same
    * even/odd split, same 1e6-scaled NLL discipline, but the
    * probability is
    *   P(w₂|w₁) = (max(c(w₁w₂)−D, 0) + D·N₁₊(w₁·)·P_cont(w₂)) / c(w₁),
    *   P_cont(w₂) = N₁₊(·w₂) / |bigram types|
    * with absolute discount D = 0.75 — the continuation probability is
    * what distinguishes KN: a token's unigram weight is how many
    * CONTEXTS it follows, not how often it occurs. (On THIS corpus the
    * add-1 baseline measures marginally better — 3.431 vs 3.437 avg
    * NLL at sf0.01 — because the generator's near-uniform token draws
    * have no burstiness for continuation counts to exploit; on Zipfian
    * real text the ordering flips, which is why both smoothers ship.)
    * Unseen fallbacks,
    * in order: unseen history → P_cont(w₂); unseen continuation →
    * the 1/(2·|types|) floor (documented, deterministic). Reported
    * per SOURCE: average NLL and both miss rates — the held-out
    * cross-entropy a curator compares against [[bigramLm]] per corpus
    * slice.
    *
    * Scale: the bigram explode is per-row; four train aggregates all
    * map-side combine on (t1,t2)/t1/t2 keys; scoring is three LEFT
    * equi-joins against collapsed count relations (each ≤ |bigram
    * types|), then one tiny per-source rollup. The probability divides
    * exact integer counts in one textual order both engines share. */
  def knBigramLm(docs: DataFrame, discount: Double = 0.75): DataFrame = Scope { s =>
    val toks = graft.functions.Portable.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tok"))
    // feeds four train aggregates AND the test scoring join
    val bi = s.persist(toks
      .select(col("doc_id"), col("source"),
        explode(expr("transform(slice(tok, 1, size(tok) - 1), " +
          "(t, i) -> struct(t AS t1, element_at(tok, i + 2) AS t2))")).as("b"))
      .select(col("doc_id"), col("source"), col("b.t1").as("t1"), col("b.t2").as("t2")))
    val train = bi.filter(pmod(col("doc_id"), lit(2)) === 0)
    // feeds c1/n1f/n1b/B and the scoring join
    val c2 = s.persist(train.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("c2")))
    val c1 = c2.groupBy(col("t1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val n1b = c2.groupBy(col("t2")).agg(count(lit(1)).as("n1b"))
    val btypes = c2.agg(count(lit(1)).as("bt"))
    val scored = bi.filter(pmod(col("doc_id"), lit(2)) === 1)
      .join(c2, Seq("t1", "t2"), "left")
      .join(c1, Seq("t1"), "left")
      .join(n1b, Seq("t2"), "left")
      .crossJoin(broadcast(btypes))
      .withColumn("pcont",
        when(col("n1b").isNotNull, col("n1b") / col("bt"))
          .otherwise(lit(0.5) / col("bt")))
      .withColumn("p",
        when(col("c1").isNotNull,
          (greatest(coalesce(col("c2"), lit(0L)) - discount, lit(0.0)) +
            lit(discount) * col("n1f") * col("pcont")) / col("c1"))
          .otherwise(col("pcont")))
      .select(col("source"),
        when(col("c2").isNull, 1L).otherwise(0L).as("unseen_bigram"),
        when(col("c1").isNull, 1L).otherwise(0L).as("unseen_history"),
        floor(-log(col("p")) * 1e6).cast("long").as("nll_term"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_term")).as("nll_scaled"),
        sum(col("unseen_bigram")).as("n_unseen"),
        sum(col("unseen_history")).as("n_unseen_hist"))
      .withColumn("avg_nll", trunc4(col("nll_scaled") / 1e6 / col("n_bigrams")))
      .withColumn("unseen_rate", trunc4(col("n_unseen") / col("n_bigrams")))
      .localCheckpoint(true) // one row per source; frees both caches
  }

  /** Per-document keyphrase extraction — top-`k` tokens by
    * tf·idf WITHIN each document (the corpus-level
    * `q_text_tfidf` ranks terms globally; this answers "what is THIS
    * doc about", the tagging/routing primitive). idf = ln(N/df) as a
    * 1e6-scaled BIGINT per term, score = tf·idf_scaled (exact integer
    * product — rank ties cannot float), rank window partitioned per
    * doc (bounded by a doc's distinct tokens, never corpus-sized);
    * single-doc hapax noise is suppressed by requiring df ≥ 2. */
  def keyphrases(docs: DataFrame, k: Int = 3): DataFrame = Scope { s =>
    // feeds tf AND df
    val tok = s.persist(graft.functions.Portable.spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t")))
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfr = tok.groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
    val nd = tok.agg(countDistinct(col("doc_id")).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_scaled").desc, col("t"))
    tf.join(dfr.filter(col("df") >= 2), "t")
      .crossJoin(broadcast(nd))
      .withColumn("idf_scaled",
        floor(log(col("n") / col("df")) * 1e6).cast("long"))
      .withColumn("score_scaled", col("tf") * col("idf_scaled"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k && col("score_scaled") > 0)
      .select(col("doc_id"), col("rnk"), col("t").as("term"),
        col("tf"), col("df"), col("score_scaled"))
      .localCheckpoint(true) // ≤ k rows per doc; releases the token cache
  }

  /** Water-filling mixture allocation — the budgeted answer to "how
    * many tokens from each source": given a token budget B (a share of
    * the corpus), every source contributes min(its tokens, level) with
    * the level chosen so allocations sum to B — small sources go in
    * whole, the surplus is split evenly across the big ones (the
    * max-min-fair cap used for domain balancing when proportional
    * sampling would let one crawl dominate).
    *
    * Exact integers end-to-end: B = (T·pct) div 100, sources sort
    * ASCENDING on the collapsed |sources| relation, the boundary
    * source is the first where cum_before + n_remaining·t ≥ B, and
    * level = (B − cum_before) div n_remaining (floor ⇒ Σ alloc ≤ B,
    * under by < |sources| tokens). The only windows/sorts run over
    * per-source aggregates — never the fact. */
  def mixtureWaterfill(docs: DataFrame, budgetPct: Long = 30L): DataFrame = {
    val counts = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("t"))
      .localCheckpoint(true) // |sources| rows; feeds rank scan + final join
    val tot = counts.agg(sum(col("t")).as("tt"), count(lit(1)).as("ns"))
    val wAsc = Window.orderBy(col("t"), col("source"))
    val ranked = counts.crossJoin(broadcast(tot))
      .withColumn("b", expr(s"(tt * $budgetPct) div 100"))
      .withColumn("rnk", row_number().over(wAsc).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("t")).over(
        wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_after", col("ns") - col("rnk") + 1)
    val lvl = ranked
      .filter(col("cum_before") + col("n_after") * col("t") >= col("b"))
      .orderBy(col("rnk")).limit(1)
      .select(expr("(b - cum_before) div n_after").as("level"), col("b"))
    counts.crossJoin(broadcast(lvl))
      .select(col("source"), col("t").as("n_tokens"),
        least(col("t"), col("level")).as("alloc_tokens"),
        col("level").as("fill_level"), col("b").as("budget_tokens"),
        trunc4(least(col("t"), col("level")) / col("t")).as("alloc_share"))
  }

  /** Per-document character-entropy — the compressibility proxy
    * (low-entropy text is repetitive boilerplate/junk; the signal gzip
    * ratio gives a CPU-bound pipeline, computed engine-side instead):
    * H = −Σ_c (n_c/n)·ln(n_c/n) over the doc's character histogram,
    * each term floor-scaled to a 1e9 BIGINT so the per-doc sum is
    * exact (BIGINT sums are order-independent, so folding over the
    * histogram map matches the oracle's SQL sum bit-for-bit).
    *
    * The histogram is ONE native codegen pass per document
    * ([[graft.functions.CharHist]]) and the entropy a fold over its
    * ≤|alphabet| entries — a pure per-row projection with NO explode
    * and NO shuffle (the previous transform+explode form shuffled one
    * row per CHARACTER and paid O(L²) substring seeks; see the
    * CharHist Scaladoc A/B). At 100 TB this is a bytes-proportional
    * map-only pass on the ingest scan. Empty documents carry no
    * distribution and are excluded (both engines). */
  def charEntropy(docs: DataFrame): DataFrame = {
    graft.functions.Portable.spread(docs, col("doc_id"))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n"),
        graft.functions.CharHist.charHist(col("text")).as("h"))
      .select(col("doc_id"), col("n").as("n_chars"),
        size(col("h")).cast("long").as("distinct_chars"),
        expr("aggregate(map_values(h), cast(0 as bigint), (acc, nc) -> " +
          "acc + cast(floor(-(nc / n) * ln(nc / n) * 1e9) as bigint))")
          .as("entropy_scaled"))
      .withColumn("entropy", trunc4(col("entropy_scaled") / 1e9))
  }

  /** Per-source Jensen–Shannon divergence from the corpus unigram
    * mix — the domain-balance readout a pretraining pipeline reads
    * before weighting sources ([[dsirWeights]] reweights; this
    * MEASURES how far each source sits): JSD(p_s ‖ q) with q the
    * whole-corpus distribution and m = (p+q)/2.
    *
    * The scale trick worth writing down: the q-side sum over tokens
    * ABSENT from the source has the closed form ln2·(1 − Σ_{t∈s} q_t)
    * (for those tokens m = q/2 exactly), so the computation touches
    * ONLY (source, token) pairs that exist — never the |vocab|×
    * |sources| cross product a naive full-outer evaluation would
    * materialize. Per-term floors to 1e9 BIGINTs keep sums exact;
    * 0 ≤ JSD ≤ ln 2 ≈ 0.6931. */
  def sourceJsd(docs: DataFrame): DataFrame = Scope { s =>
    // feeds the per-source AND corpus counts
    val tok = s.persist(graft.functions.Portable.spread(docs, col("doc_id"))
      .select(col("source"), explode(tokens(col("text"))).as("t")))
    val st = tok.groupBy(col("source"), col("t")).agg(count(lit(1)).as("tfs"))
    val ct = tok.groupBy(col("t")).agg(count(lit(1)).as("tfc"))
    val stot = st.groupBy(col("source")).agg(sum(col("tfs")).as("ts"))
    val ctot = ct.agg(sum(col("tfc")).as("tc"))
    val p = col("tfs") / col("ts")
    val q = col("tfc") / col("tc")
    val m = (p + q) / 2
    st.join(ct, "t")
      .join(stot, "source")
      .crossJoin(broadcast(ctot))
      .select(col("source"), col("ts"),
        floor((p * log(p / m) / 2 + q * log(q / m) / 2) * 1e9)
          .cast("long").as("term_scaled"),
        floor(q * 1e9).cast("long").as("q_scaled"))
      .groupBy(col("source"))
      .agg(max(col("ts")).as("n_tokens"), count(lit(1)).as("n_shared_types"),
        sum(col("term_scaled")).as("present_scaled"),
        sum(col("q_scaled")).as("q_mass_scaled"))
      .select(col("source"), col("n_tokens"), col("n_shared_types"),
        (col("present_scaled") +
          floor(log(lit(2.0)) * (lit(1e9) - col("q_mass_scaled")) / 2).cast("long"))
          .as("jsd_scaled"))
      .withColumn("jsd", trunc4(col("jsd_scaled") / 1e9))
      .localCheckpoint(true) // |sources| rows; releases the token cache
  }

  /** Vocabulary coverage curve — the tokenizer-sizing readout: what
    * share of all token INSTANCES do the top-k vocabulary types cover,
    * for k ∈ {5, 10, 25} (sized to the corpus vocabulary)? (The elbow of this curve is where a
    * fixed vocab stops paying and subword units take over — the
    * question [[bpeLearn]] exists to answer.) Pure integers until the
    * final share: type counts, a rank over the collapsed vocabulary
    * relation (aggregate-collapsed, never the token stream), exact
    * cumulative sums, one division.
    *
    * Scale: one tokenize + hash-agg to the vocab relation; the global
    * rank/cumsum window runs over VOCAB rows (heavy-tailed but
    * aggregate-bounded — the [[zipfFit]] precedent; a 100 TB corpus
    * ranks its vocab the same way, or two-phase-partitions it like
    * globalRank if vocab itself outgrows a task). */
  def vocabCoverage(docs: DataFrame, ks: Seq[Long] = Seq(5L, 10L, 25L)): DataFrame = {
    val tf = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").desc, col("t"))
    val ranked = tf
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = tf.agg(sum(col("n")).as("total_tokens"), count(lit(1)).as("vocab_size"))
    ranked.filter(col("rnk").isin(ks: _*))
      .crossJoin(broadcast(tot))
      .select(col("rnk").as("k"), col("cum").as("cum_tokens"),
        col("total_tokens"), col("vocab_size"),
        trunc4(col("cum") / col("total_tokens")).as("coverage"))
  }

  /** Boilerplate / template detection: document PREFIXES (first
    * `nTok` tokens) shared by ≥ `minDocs` docs of one source — the
    * "every page starts with the same header" screen a curator runs
    * before dedup (templates inflate exact-dup stats and poison
    * n-gram LMs; [[novelty]] sees them as old shingles but can't name
    * them). Emitted per (source, prefix): the doc count and its share
    * of the source.
    *
    * Scale: the prefix is a row-local slice+join of the token array
    * (one scan projection, no explode); one (source, prefix) hash-agg
    * bounded by the doc count; per-source totals broadcast. */
  def boilerplate(docs: DataFrame, nTok: Int = 2, minDocs: Long = 2L): DataFrame = {
    val pref = docs.select(col("source"),
      array_join(slice(tokens(col("text")), 1, nTok), " ").as("prefix"))
    val cells = pref.groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = pref.groupBy(col("source")).agg(count(lit(1)).as("src_docs"))
    cells.filter(col("n_docs") >= minDocs)
      .join(broadcast(tot), "source")
      .select(col("source"), col("prefix"), col("n_docs"), col("src_docs"),
        trunc4(col("n_docs") / col("src_docs")).as("share"))
  }

  /** Corpus triage ledger — the drop accounting [[corpusPipeline]]'s
    * survivor rollup leaves implicit: every perturbed-corpus document
    * gets ONE verdict with a reason, precedence duplicate → too_short
    * → und_lang → keep (a duplicate is a duplicate even if also
    * short: remove it and the keeper still carries the content), and
    * the ledger reports each reason's doc count, token mass, and
    * corpus share. This is the L4 composition capstone in the
    * [[graft.operators.Monitoring]] alertTriage mold: normalization,
    * tokenization, language ID and exact dedup — each independently
    * driver-gated — fused in one lazy plan whose only fact-sized
    * shuffles are the dedup hash-agg and the final tiny reason
    * rollup. */
  def corpusTriage(docs: DataFrame): DataFrame = Scope { sc =>
    // feeds the keeper table, the totals, and the ledger
    val s = sc.persist(perturbed(docs)
      .select(col("doc_id"), normalize(col("text")).as("nt"),
        tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(tokens(col("nt"))).cast("long"))
      .select(langRatios(col("doc_id"), col("nt"), col("n_tokens")): _*)
      .withColumn("lang", langDecision))
    val keep = s.groupBy(md5(col("nt")).as("h")).agg(min(col("doc_id")).as("keep_id"))
    val tot = s.agg(count(lit(1)).as("n_total"))
    s.withColumn("h", md5(col("nt")))
      .join(keep, "h")
      .withColumn("reason",
        when(col("doc_id") =!= col("keep_id"), "duplicate")
          .when(col("n_tokens") < 20, "too_short")
          .when(col("lang") === "und", "und_lang")
          .otherwise("keep"))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("reason"), col("n_docs"), col("n_tokens"),
        trunc4(col("n_docs") / col("n_total")).as("share"))
      .localCheckpoint(true) // ≤ 4 rows; releases the scored cache
  }

  /** Good–Turing missing-mass estimate per source (Good 1953; Gale &
    * Sampson 1995's simple variant): the probability that the NEXT
    * token drawn from a source is a type never seen in it — the
    * frequency-of-frequencies statistic n₁/N a curator reads as "how
    * much of this source's vocabulary is still undiscovered" (high →
    * the crawl is far from saturating the domain; near 0 → more data
    * from this source adds few new types). Also reports the GT
    * adjusted count for singletons r* = 2·n₂/n₁ — r* ≪ 1 means
    * hapaxes are mostly noise (typos/OCR), r* near 1 means real
    * vocabulary tail. One explode → one (source, type) hash-agg (map-
    * side combined) → a frequency-of-frequencies rollup that is at
    * most |sources|×max_tf rows; no windows, no joins. */
  def goodTuring(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("n"))
    tf.groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("n_doubletons"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_singletons"), col("n_doubletons"),
        trunc4(col("n_singletons") / col("n_tokens")).as("unseen_mass"),
        when(col("n_singletons") > 0,
          trunc4(lit(2) * col("n_doubletons") / col("n_singletons")))
          .otherwise(0.0).as("adj_singleton"))
  }

  /** Padding-waste accounting for length-bucketed batch planning — the
    * sequence-batching twin of [[seqPacking]]: packing decides which
    * documents share a training sequence; PADDING decides what each
    * sequence costs once batched, and the bucketing granularity is the
    * knob. Three deterministic strategies per document of token length
    * L, reported as one row each:
    *  - `global_max`: every sequence pads to the corpus max (one batch
    *    domain — the naive collate_fn);
    *  - `pow2`: pad to the next power of two (log-spaced length
    *    buckets — the shape-cache-friendly compromise XLA/TPU
    *    pipelines use);
    *  - `mult64`: pad up to a multiple of 64 (fixed-grid buckets —
    *    the fine-grained end).
    * `efficiency` = real tokens / padded tokens is the number a batch
    * planner maximizes; waste is its integer complement. Next-pow2 is
    * pure integer bit-math (`2^bitlength(L-1)`, no float log2 whose
    * last ulp could differ between engines).
    *
    * Scale: one scan → 3 narrow rows per document → a 3-row hash-agg,
    * map-side combined; the only scalar (corpus max) rides a 1-row
    * broadcast. No windows, no fact-sized joins. */
  def padWaste(docs: DataFrame): DataFrame = {
    val t = docs.select(size(tokens(col("text"))).cast("long").as("len"))
      .filter(col("len") > 0)
    val mx = t.agg(max(col("len")).as("max_len"))
    val p2 = when(col("len") === 1, 1L).otherwise(
      expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(len - 1)) AS INT))"))
    val m64 = expr("((len + 63) div 64) * 64")
    t.crossJoin(broadcast(mx))
      .select(col("len"), explode(array(
        struct(lit("global_max").as("strategy"), col("max_len").as("target")),
        struct(lit("pow2").as("strategy"), p2.as("target")),
        struct(lit("mult64").as("strategy"), m64.as("target")))).as("s"))
      .groupBy(col("s.strategy").as("strategy"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("len")).as("n_tokens"),
        sum(col("s.target")).as("padded_tokens"))
      .select(col("strategy"), col("n_seqs"), col("n_tokens"),
        col("padded_tokens"),
        (col("padded_tokens") - col("n_tokens")).as("waste_tokens"),
        trunc4(col("n_tokens") / col("padded_tokens")).as("efficiency"))
  }

  /** CCNet-style cross-document block dedup accounting (Wenzek et al.
    * 2020 §3.1 dedups web text per LINE against corpus-wide line
    * hashes; this corpus is single-line, so the unit is the
    * non-overlapping 8-token block — the same fixed unit
    * [[chunks]]/[[seqPacking]] use). A block is boilerplate when it
    * occurs in ≥ `minDocs` DISTINCT documents; the report is the
    * per-source removal ledger a curator reads before enabling the
    * filter: block instances removed, token mass removed, share. This
    * is frequency-based removal with document recomputation — distinct
    * from [[graft.operators.Dedup.substringRuns]] (pairwise longest
    * shared run) and [[boilerplate]] (document-head prefixes only).
    *
    * Scale: tokenize+hash is per-row codegen (full blocks only —
    * sub-block tails never explode); one (block-hash, source) hash-agg
    * map-side combines the fact volume down to distinct pairs; the
    * cross-doc frequency is a SUM over the bh partition of that
    * COLLAPSED relation (valid because doc→source is functional, so
    * per-source distinct-doc counts add up) — no second pass over
    * instances, no fact-sized join back. */
  def lineDedup(docs: DataFrame, blockTok: Int = 8, minDocs: Long = 2L): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") >= blockTok) // sequence(0,-1) descends — guard first
    val inst = base
      .select(col("doc_id"), col("source"), col("toks"),
        explode(sequence(lit(0), (col("n_tok") / blockTok).cast("int") - 1)).as("b"))
      .select(col("doc_id"), col("source"),
        hash60(concat_ws(" ",
          slice(col("toks"), col("b") * blockTok + 1, lit(blockTok)))).as("bh"))
    val perPair = inst.groupBy(col("bh"), col("source"))
      .agg(count(lit(1)).as("n_inst"), countDistinct(col("doc_id")).as("nd_src"))
    val withFreq = perPair.withColumn("nd",
      sum(col("nd_src")).over(Window.partitionBy(col("bh"))))
    withFreq.groupBy(col("source"))
      .agg(sum(col("n_inst")).as("n_blocks"),
        sum(when(col("nd") >= minDocs, col("n_inst")).otherwise(0L)).as("dup_blocks"))
      .select(col("source"), col("n_blocks"), col("dup_blocks"),
        (col("dup_blocks") * blockTok).as("tokens_removed"),
        trunc4(col("dup_blocks") / col("n_blocks")).as("removed_share"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pad_waste" -> ((s, d) => padWaste(Tables.documents(s, d))),
    "q_line_dedup" -> ((s, d) => lineDedup(Tables.documents(s, d))),
    "q_corpus_triage" -> ((s, d) => corpusTriage(Tables.documents(s, d))),
    "q_good_turing" -> ((s, d) => goodTuring(Tables.documents(s, d))),
    "q_vocab_coverage" -> ((s, d) => vocabCoverage(Tables.documents(s, d))),
    "q_boilerplate" -> ((s, d) => boilerplate(Tables.documents(s, d))),
    "q_text_bm25" -> ((s, d) => bm25TopK(Tables.documents(s, d))),
    "q_text_perplexity" -> ((s, d) => unigramNll(Tables.documents(s, d))),
    "q_text_bigram_lm" -> ((s, d) => bigramLm(Tables.documents(s, d))),
    "q_text_kn_lm" -> ((s, d) => knBigramLm(Tables.documents(s, d))),
    "q_char_entropy" -> ((s, d) => charEntropy(Tables.documents(s, d))),
    "q_mixture_waterfill" -> ((s, d) => mixtureWaterfill(Tables.documents(s, d))),
    "q_keyphrases" -> ((s, d) => keyphrases(Tables.documents(s, d))),
    "q_source_jsd" -> ((s, d) => sourceJsd(Tables.documents(s, d))),
    "q_text_novelty" -> ((s, d) => novelty(Tables.documents(s, d))),
    "q_text_familiarity" -> ((s, d) => familiarity(Tables.documents(s, d))),
    "q_text_pmi" -> ((s, d) => pmiCollocations(Tables.documents(s, d))),
    "q_text_llr" -> ((s, d) => llrCollocations(Tables.documents(s, d))),
    "q_chao1" -> ((s, d) => chao1(Tables.documents(s, d))),
    "q_source_report" -> ((s, d) => sourceReport(Tables.documents(s, d))),
    "q_text_lengths" -> ((s, d) => lengthBuckets(Tables.documents(s, d))),
    "q_token_budget" -> ((s, d) => tokenBudget(Tables.documents(s, d))),
    "q_source_overlap" -> ((s, d) => sourceOverlap(Tables.documents(s, d))),
    "q_langid_eval" -> ((s, d) => langIdEval(Tables.documents(s, d))),
    "q_source_contam" -> ((s, d) => sourceContamination(Tables.documents(s, d))),
    "q_text_bpe" -> ((s, d) => bpeStats(Tables.documents(s, d))),
    "q_bpe_merges" -> ((s, d) => bpeMerges(Tables.documents(s, d))),
    "q_bpe_fertility" -> ((s, d) => bpeFertility(Tables.documents(s, d))),
    "q_bpe_curve" -> ((s, d) => bpeCurve(Tables.documents(s, d))),
    "q_span_corruption" -> ((s, d) => spanCorruption(Tables.documents(s, d))),
    "q_train_mix_order" -> ((s, d) => trainMixOrder(Tables.documents(s, d))),
    "q_text_langid" -> ((s, d) => langId(Tables.documents(s, d))),
    "q_text_quality" -> ((s, d) => quality(Tables.documents(s, d))),
    "q_text_tokens" -> ((s, d) => tokenCounts(Tables.documents(s, d))),
    "q_text_fingerprint" -> ((s, d) => fingerprints(Tables.documents(s, d))),
    "q_text_chunks" -> ((s, d) => chunks(Tables.documents(s, d))),
    "q_text_termstats" -> ((s, d) => termStats(Tables.documents(s, d))),
    "q_text_tfidf" -> ((s, d) => tfidfTopK(Tables.documents(s, d))),
    "q_feature_hash" -> ((s, d) => featureHash(Tables.documents(s, d))),
    "q_text_normalize" -> ((s, d) => normalized(Tables.documents(s, d))),
    "q_dedup_normalized" -> ((s, d) => dedupNormalized(Tables.documents(s, d))),
    "q_text_decontam" -> ((s, d) => decontaminate(Tables.documents(s, d))),
    "q_text_dsir" -> ((s, d) => dsirWeights(Tables.documents(s, d))),
    "q_seq_packing" -> ((s, d) => seqPacking(Tables.documents(s, d))),
    "q_stratified_sample" -> ((s, d) => stratifiedSample(Tables.documents(s, d))),
    "q_corpus_pipeline" -> ((s, d) => corpusPipeline(Tables.documents(s, d))),
    "q_text_sparse_sim" -> ((s, d) => sparseSim(Tables.documents(s, d))),
    "q_weighted_sample" -> ((s, d) => weightedSample(Tables.documents(s, d))),
    "q_train_split" -> ((s, d) => trainSplit(Tables.documents(s, d))),
    "q_text_repetition" -> ((s, d) => repetition(Tables.documents(s, d))),
    "q_text_redact" -> ((s, d) => redactPii(Tables.documents(s, d))),
    "q_text_zipf" -> ((s, d) => zipfFit(Tables.documents(s, d))),
    "q_text_heaps" -> ((s, d) => heapsLaw(Tables.documents(s, d))))

  /** The perturbed corpus + normalization, as SQL (DuckDB regexp_replace
    * needs the 'g' flag — it is first-match-only by default, unlike
    * Spark's). */
  private[graft] val pertCte =
    "WITH pert AS (SELECT doc_id, text FROM documents UNION ALL " +
      s"SELECT doc_id + $PerturbOffset, CASE WHEN doc_id % 3 = 0 THEN upper(text) || '!!' " +
      "WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ') " +
      "ELSE '   ' || text || ' ???' END FROM documents), " +
      "norm AS (SELECT doc_id, length(text)::BIGINT n_chars_raw, " +
      "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) nt " +
      "FROM pert)"

  private def inList(lang: String): String =
    stopwords(lang).map(w => s"'$w'").mkString("(", ", ", ")")

  private def ratioSql(lang: String): String =
    s"len(list_filter(toks, t -> t IN ${inList(lang)}))::DOUBLE / len(toks)"

  val oracleSql: Map[String, String] = Map(
    "q_pad_waste" ->
      ("WITH t AS (SELECT len(string_split(text, ' '))::BIGINT AS l " +
        "FROM documents WHERE len(string_split(text, ' ')) > 0), " +
        "mx AS (SELECT max(l) AS max_len FROM t), " +
        "s AS (SELECT 'global_max' AS strategy, l, max_len AS target FROM t CROSS JOIN mx " +
        "UNION ALL SELECT 'pow2', l, CASE WHEN l = 1 THEN 1 " +
        "ELSE (1::BIGINT << length(bin(l - 1))) END FROM t " +
        "UNION ALL SELECT 'mult64', l, ((l + 63) // 64) * 64 FROM t) " +
        "SELECT strategy, count(*) AS n_seqs, sum(l)::BIGINT AS n_tokens, " +
        "sum(target)::BIGINT AS padded_tokens, " +
        "(sum(target) - sum(l))::BIGINT AS waste_tokens, " +
        "floor(sum(l) / sum(target) * 10000) / 10000 AS efficiency " +
        "FROM s GROUP BY 1"),
    "q_line_dedup" ->
      ("WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS toks, " +
        "len(string_split(text, ' '))::BIGINT AS n_tok FROM documents), " +
        "inst AS (SELECT doc_id, source, toks, " +
        "unnest(range(0, n_tok // 8)) AS b FROM base WHERE n_tok >= 8), " +
        "hashed AS (SELECT doc_id, source, " +
        "('0x' || substr(md5(array_to_string(toks[b*8+1 : b*8+8], ' ')), 1, 15))::BIGINT AS bh " +
        "FROM inst), " +
        "pp AS (SELECT bh, source, count(*) AS n_inst, " +
        "count(DISTINCT doc_id) AS nd_src FROM hashed GROUP BY 1, 2), " +
        "wf AS (SELECT *, sum(nd_src) OVER (PARTITION BY bh)::BIGINT AS nd FROM pp) " +
        "SELECT source, sum(n_inst)::BIGINT AS n_blocks, " +
        "sum(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END)::BIGINT AS dup_blocks, " +
        "(sum(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END) * 8)::BIGINT AS tokens_removed, " +
        "floor(sum(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END) / sum(n_inst) * 10000) / 10000 " +
        "AS removed_share FROM wf GROUP BY 1"),
    "q_good_turing" ->
      ("WITH gtf AS (SELECT source, t, count(*) AS n FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS t FROM documents) " +
        "GROUP BY 1, 2), " +
        "gts AS (SELECT source, sum(n)::BIGINT AS n_tokens, count(*) AS n_types, " +
        "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons, " +
        "sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)::BIGINT AS n_doubletons " +
        "FROM gtf GROUP BY 1) " +
        "SELECT source, n_tokens, n_types, n_singletons, n_doubletons, " +
        "floor(n_singletons / n_tokens * 10000) / 10000 AS unseen_mass, " +
        "CASE WHEN n_singletons > 0 THEN " +
        "floor(2 * n_doubletons / n_singletons * 10000) / 10000 " +
        "ELSE 0.0 END AS adj_singleton FROM gts"),
    "q_text_bpe" -> bpeStatsOracle(),
    "q_bpe_merges" -> bpeMergesOracle(),
    "q_bpe_curve" -> bpeCurveOracle(),
    "q_bpe_fertility" ->
      ("WITH " + bpeOracleCtes(32) +
        ", fin AS (SELECT w, len(syms)::BIGINT AS nb FROM v32), " +
        "fw AS (SELECT t.source, t.doc_id, f.nb, length(t.w) AS wc " +
        "FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) t JOIN fin f USING (w)), " +
        "fd AS (SELECT source, doc_id, count(*)::BIGINT nw, sum(nb)::BIGINT nb, " +
        "sum(wc)::BIGINT nc FROM fw GROUP BY 1, 2) " +
        "SELECT source, count(*)::BIGINT AS n_docs, sum(nw)::BIGINT AS n_words, " +
        "sum(nb)::BIGINT AS n_subtokens, " +
        "floor(sum(nb)::BIGINT / sum(nw)::BIGINT * 10000) / 10000 AS fertility, " +
        "floor(sum(nc)::BIGINT / sum(nb)::BIGINT * 10000) / 10000 AS chars_per_subtoken " +
        "FROM fd GROUP BY 1"),
    "q_span_corruption" ->
      ("WITH spc AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT n_tokens " +
        "FROM documents WHERE len(string_split(text, ' ')) >= 1), " +
        "spb AS (SELECT doc_id, n_tokens, unnest(range(0, (n_tokens - 1) // 20 + 1)) blk " +
        "FROM spc), " +
        "sps AS (SELECT doc_id, n_tokens, blk, blk * 20 + " +
        "(('0x' || substr(md5('span|' || doc_id::VARCHAR || '#' || blk::VARCHAR), 1, 15))::BIGINT % 18) + 1 " +
        "AS start_pos FROM spb) " +
        "SELECT doc_id, (blk + 1)::BIGINT AS span_id, n_tokens, start_pos::BIGINT AS start_pos, " +
        "least(3, n_tokens - start_pos + 1)::BIGINT AS span_len " +
        "FROM sps WHERE start_pos <= n_tokens"),
    "q_train_mix_order" ->
      ("WITH tms AS (SELECT source, count(*)::BIGINT ns FROM documents GROUP BY 1), " +
        "tmr AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY ('0x' || substr(md5('mix|' || doc_id::VARCHAR), 1, 15))::BIGINT, doc_id)::BIGINT r " +
        "FROM documents), " +
        "tmk AS (SELECT tmr.doc_id, tmr.source, tmr.r, tmr.r / sqrt(tms.ns) AS mkey " +
        "FROM tmr JOIN tms USING (source)) " +
        "SELECT row_number() OVER (ORDER BY mkey, source, r)::BIGINT AS pos, " +
        "doc_id, source, r FROM tmk ORDER BY mkey, source, r LIMIT 100"),
    "q_corpus_triage" ->
      (pertCte + ", " +
        "tr_s AS (SELECT p.doc_id, string_split(p.text, ' ') AS toks, n.nt " +
        "FROM pert p JOIN norm n ON p.doc_id = n.doc_id), " +
        "tr_t AS (SELECT doc_id, nt, len(string_split(nt, ' '))::BIGINT AS n_tokens, " +
        s"${ratioSql("en")} AS s_en, ${ratioSql("de")} AS s_de, " +
        s"${ratioSql("es")} AS s_es, ${ratioSql("fr")} AS s_fr FROM tr_s), " +
        "tr_l AS (SELECT doc_id, nt, n_tokens, " +
        "CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= 0.02 THEN 'en' " +
        "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= 0.02 THEN 'de' " +
        "WHEN s_es >= s_fr AND s_es >= 0.02 THEN 'es' " +
        "WHEN s_fr >= 0.02 THEN 'fr' ELSE 'und' END AS lang FROM tr_t), " +
        "tr_k AS (SELECT md5(nt) AS h, min(doc_id) AS keep_id FROM tr_l GROUP BY 1), " +
        "tr_tot AS (SELECT count(*) AS n_total FROM tr_l), " +
        "tr_v AS (SELECT l.n_tokens, CASE WHEN l.doc_id <> k.keep_id THEN 'duplicate' " +
        "WHEN l.n_tokens < 20 THEN 'too_short' " +
        "WHEN l.lang = 'und' THEN 'und_lang' ELSE 'keep' END AS reason " +
        "FROM tr_l l JOIN tr_k k ON md5(l.nt) = k.h) " +
        "SELECT reason, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens, " +
        "floor(count(*) / n_total * 10000) / 10000 AS share " +
        "FROM tr_v CROSS JOIN tr_tot GROUP BY reason, n_total"),
    "q_vocab_coverage" ->
      ("WITH tf AS (SELECT t, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) t " +
        "FROM documents) GROUP BY 1), " +
        "r AS (SELECT t, n, row_number() OVER (ORDER BY n DESC, t)::BIGINT AS rnk, " +
        "sum(n) OVER (ORDER BY n DESC, t ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM tf), " +
        "tot AS (SELECT sum(n)::BIGINT AS total_tokens, count(*) AS vocab_size FROM tf) " +
        "SELECT rnk AS k, cum AS cum_tokens, total_tokens, vocab_size, " +
        "floor(cum / total_tokens * 10000) / 10000 AS coverage " +
        "FROM r CROSS JOIN tot WHERE rnk IN (5, 10, 25)"),
    "q_boilerplate" ->
      ("WITH pref AS (SELECT source, array_to_string(string_split(text, ' ')[1:2], ' ') AS prefix " +
        "FROM documents), " +
        "cells AS (SELECT source, prefix, count(*) AS n_docs FROM pref GROUP BY 1, 2), " +
        "tot AS (SELECT source, count(*) AS src_docs FROM pref GROUP BY 1) " +
        "SELECT source, prefix, n_docs, src_docs, " +
        "floor(n_docs / src_docs * 10000) / 10000 AS share " +
        "FROM cells JOIN tot USING (source) WHERE n_docs >= 2"),
    "q_text_bm25" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents), " +
        "tf AS (SELECT doc_id, t, count(*) tf FROM tok GROUP BY 1, 2), " +
        "df AS (SELECT t, count(DISTINCT doc_id) df FROM tok GROUP BY 1), " +
        "lens AS (SELECT doc_id, count(*) len FROM tok GROUP BY 1), " +
        "st AS (SELECT count(*) nd, sum(len)::BIGINT tt FROM lens), " +
        "q AS (SELECT t, df FROM df ORDER BY df DESC, t LIMIT 5), " +
        "sc AS (SELECT doc_id, CAST(floor((ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * " +
        "(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (len * nd / tt)))) * 1000000) AS BIGINT) term_scaled " +
        "FROM tf JOIN q USING (t) JOIN lens USING (doc_id) CROSS JOIN st), " +
        "pd AS (SELECT doc_id, count(*) n_match_terms, sum(term_scaled)::BIGINT score_scaled " +
        "FROM sc GROUP BY 1), " +
        "r AS (SELECT doc_id, n_match_terms, score_scaled, row_number() OVER " +
        "(ORDER BY score_scaled DESC, doc_id) rnk FROM pd) " +
        "SELECT doc_id, n_match_terms, score_scaled, " +
        "floor(score_scaled / 1000000.0 * 10000) / 10000 AS score, rnk FROM r WHERE rnk <= 10"),
    "q_char_entropy" ->
      ("WITH ch AS (SELECT doc_id, unnest(list_transform(range(1, length(text) + 1), " +
        "i -> substr(text, i, 1))) c FROM documents WHERE length(text) > 0), " +
        "hist AS (SELECT doc_id, c, count(*) nc FROM ch GROUP BY 1, 2), " +
        "lens AS (SELECT doc_id, sum(nc)::BIGINT n, count(*) distinct_chars " +
        "FROM hist GROUP BY 1), " +
        "terms AS (SELECT h.doc_id, n, distinct_chars, " +
        "CAST(floor(-(nc / n) * ln(nc / n) * 1000000000) AS BIGINT) term_scaled " +
        "FROM hist h JOIN lens l USING (doc_id)) " +
        "SELECT doc_id, max(n)::BIGINT AS n_chars, " +
        "max(distinct_chars)::BIGINT AS distinct_chars, " +
        "sum(term_scaled)::BIGINT AS entropy_scaled, " +
        "floor(sum(term_scaled)::BIGINT / 1000000000.0 * 10000) / 10000 AS entropy " +
        "FROM terms GROUP BY 1"),
    "q_keyphrases" ->
      ("WITH kt AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents), " +
        "ktf AS (SELECT doc_id, t, count(*) tf FROM kt GROUP BY 1, 2), " +
        "kdf AS (SELECT t, count(DISTINCT doc_id) df FROM kt GROUP BY 1), " +
        "knd AS (SELECT count(DISTINCT doc_id) n FROM kt), " +
        "ks AS (SELECT f.doc_id, f.t, f.tf, d.df, " +
        "f.tf * CAST(floor(ln(n / d.df) * 1000000) AS BIGINT) AS score_scaled " +
        "FROM ktf f JOIN kdf d USING (t) CROSS JOIN knd WHERE d.df >= 2), " +
        "kr AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score_scaled DESC, t)::BIGINT rnk FROM ks) " +
        "SELECT doc_id, rnk, t AS term, tf, df, score_scaled::BIGINT AS score_scaled " +
        "FROM kr WHERE rnk <= 3 AND score_scaled > 0"),
    "q_mixture_waterfill" ->
      ("WITH wc AS (SELECT source, sum(len(string_split(text, ' ')))::BIGINT t " +
        "FROM documents GROUP BY 1), " +
        "wt AS (SELECT sum(t)::BIGINT tt, count(*) ns FROM wc), " +
        "wr AS (SELECT source, t, (tt * 30) // 100 AS b, " +
        "row_number() OVER (ORDER BY t, source)::BIGINT rnk, " +
        "coalesce(sum(t) OVER (ORDER BY t, source " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT cum_before, " +
        "ns FROM wc CROSS JOIN wt), " +
        "wl AS (SELECT (b - cum_before) // (ns - rnk + 1) AS level, b " +
        "FROM wr WHERE cum_before + (ns - rnk + 1) * t >= b ORDER BY rnk LIMIT 1) " +
        "SELECT source, t AS n_tokens, least(t, level)::BIGINT AS alloc_tokens, " +
        "level::BIGINT AS fill_level, b::BIGINT AS budget_tokens, " +
        "floor(least(t, level) / t * 10000) / 10000 AS alloc_share " +
        "FROM wc CROSS JOIN wl"),
    "q_source_jsd" ->
      ("WITH jt AS (SELECT source, unnest(string_split(text, ' ')) t FROM documents), " +
        "jst AS (SELECT source, t, count(*) tfs FROM jt GROUP BY 1, 2), " +
        "jct AS (SELECT t, count(*) tfc FROM jt GROUP BY 1), " +
        "jss AS (SELECT source, sum(tfs)::BIGINT ts FROM jst GROUP BY 1), " +
        "jcc AS (SELECT sum(tfc)::BIGINT tc FROM jct), " +
        "jterms AS (SELECT s.source, ts, " +
        "CAST(floor(((s.tfs / ts) * ln((s.tfs / ts) / (((s.tfs / ts) + (c.tfc / tc)) / 2)) / 2 + " +
        "(c.tfc / tc) * ln((c.tfc / tc) / (((s.tfs / ts) + (c.tfc / tc)) / 2)) / 2) " +
        "* 1000000000) AS BIGINT) term_scaled, " +
        "CAST(floor((c.tfc / tc) * 1000000000) AS BIGINT) q_scaled " +
        "FROM jst s JOIN jct c USING (t) JOIN jss USING (source) CROSS JOIN jcc), " +
        "jagg AS (SELECT source, max(ts)::BIGINT n_tokens, count(*) n_shared_types, " +
        "sum(term_scaled)::BIGINT present_scaled, sum(q_scaled)::BIGINT q_mass_scaled " +
        "FROM jterms GROUP BY 1) " +
        "SELECT source, n_tokens, n_shared_types, " +
        "(present_scaled + CAST(floor(ln(2) * (1000000000 - q_mass_scaled) / 2) AS BIGINT))" +
        "::BIGINT AS jsd_scaled, " +
        "floor((present_scaled + CAST(floor(ln(2) * (1000000000 - q_mass_scaled) / 2) " +
        "AS BIGINT)) / 1000000000.0 * 10000) / 10000 AS jsd FROM jagg"),
    "q_text_kn_lm" ->
      ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') tok FROM documents), " +
        "bi AS (SELECT doc_id, source, " +
        "unnest(list_transform(range(1, len(tok)), i -> tok[i])) t1, " +
        "unnest(list_transform(range(1, len(tok)), i -> tok[i + 1])) t2 FROM t), " +
        "tr AS (SELECT t1, t2 FROM bi WHERE doc_id % 2 = 0), " +
        "kc2 AS (SELECT t1, t2, count(*) c2 FROM tr GROUP BY 1, 2), " +
        "kc1 AS (SELECT t1, sum(c2)::BIGINT c1, count(*) n1f FROM kc2 GROUP BY 1), " +
        "kn1b AS (SELECT t2, count(*) n1b FROM kc2 GROUP BY 1), " +
        "kbt AS (SELECT count(*)::BIGINT bt FROM kc2), " +
        "pc AS (SELECT b.source, kc2.c2, kc1.c1, kc1.n1f, " +
        "CASE WHEN kn1b.n1b IS NOT NULL THEN kn1b.n1b / kbt.bt " +
        "ELSE (0.5::DOUBLE) / kbt.bt END pcont " +
        "FROM bi b LEFT JOIN kc2 ON b.t1 = kc2.t1 AND b.t2 = kc2.t2 " +
        "LEFT JOIN kc1 ON b.t1 = kc1.t1 LEFT JOIN kn1b ON b.t2 = kn1b.t2 " +
        "CROSS JOIN kbt WHERE b.doc_id % 2 = 1), " +
        "sc AS (SELECT source, CASE WHEN c2 IS NULL THEN 1 ELSE 0 END unseen_bigram, " +
        "CASE WHEN c1 IS NULL THEN 1 ELSE 0 END unseen_history, " +
        "CAST(floor(-ln(CASE WHEN c1 IS NOT NULL THEN " +
        "(greatest(coalesce(c2, 0) - (0.75::DOUBLE), 0.0::DOUBLE) + " +
        "(0.75::DOUBLE) * n1f * pcont) / c1 ELSE pcont END) * 1000000) AS BIGINT) nll_term " +
        "FROM pc) " +
        "SELECT source, count(*) AS n_bigrams, sum(nll_term)::BIGINT AS nll_scaled, " +
        "sum(unseen_bigram)::BIGINT AS n_unseen, " +
        "sum(unseen_history)::BIGINT AS n_unseen_hist, " +
        "floor(sum(nll_term)::BIGINT / 1000000.0 / count(*) * 10000) / 10000 AS avg_nll, " +
        "floor(sum(unseen_bigram)::BIGINT / count(*) * 10000) / 10000 AS unseen_rate " +
        "FROM sc GROUP BY 1"),
    "q_text_bigram_lm" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "bi AS (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(tok)), i -> tok[i])) t1, " +
        "unnest(list_transform(range(1, len(tok)), i -> tok[i + 1])) t2 FROM t), " +
        "tr AS (SELECT t1, t2 FROM bi WHERE doc_id % 2 = 0), " +
        "bc2 AS (SELECT t1, t2, count(*) c2 FROM tr GROUP BY 1, 2), " +
        "bc1 AS (SELECT t1, count(*) c1 FROM tr GROUP BY 1), " +
        "bv AS (SELECT count(*) v FROM bc1), " +
        "sc AS (SELECT b.doc_id, CASE WHEN bc2.c2 IS NULL THEN 1 ELSE 0 END unseen, " +
        "CAST(floor(-ln((coalesce(bc2.c2, 0) + 1) / (coalesce(bc1.c1, 0) + bv.v)) " +
        "* 1000000) AS BIGINT) nll_term " +
        "FROM bi b LEFT JOIN bc2 ON b.t1 = bc2.t1 AND b.t2 = bc2.t2 " +
        "LEFT JOIN bc1 ON b.t1 = bc1.t1 CROSS JOIN bv WHERE b.doc_id % 2 = 1) " +
        "SELECT doc_id, count(*) AS n_bigrams, sum(nll_term)::BIGINT AS nll_scaled, " +
        "sum(unseen)::BIGINT AS n_unseen, " +
        "floor(sum(nll_term)::BIGINT / 1000000.0 / count(*) * 10000) / 10000 AS avg_nll, " +
        "floor(sum(unseen)::BIGINT / count(*) * 10000) / 10000 AS unseen_rate " +
        "FROM sc GROUP BY 1"),
    "q_text_perplexity" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents), " +
        "tfc AS (SELECT t, count(*) tf FROM tok GROUP BY 1), " +
        "tot AS (SELECT sum(tf)::BIGINT tt, count(*) v FROM tfc), " +
        "lut AS (SELECT t, CAST(floor(-ln((tf + 1) / (tt + v)) * 1000000) AS BIGINT) nll_term " +
        "FROM tfc CROSS JOIN tot) " +
        "SELECT doc_id, count(*) AS n_tokens, sum(nll_term)::BIGINT AS nll_scaled, " +
        "floor(sum(nll_term)::BIGINT / 1000000.0 / count(*) * 10000) / 10000 AS avg_nll " +
        "FROM tok JOIN lut USING (t) GROUP BY 1"),
    "q_text_novelty" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(tok) - 1), " +
        "i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2])) s FROM t), " +
        "fs AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1) " +
        "SELECT sh.doc_id, count(*) AS n_shingles, " +
        "sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel, " +
        "floor(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)::DOUBLE / " +
        "count(*) * 10000) / 10000 AS novelty " +
        "FROM sh JOIN fs USING (s) GROUP BY 1"),
    "q_langid_eval" ->
      ("WITH t AS (SELECT lang, string_split(text, ' ') toks FROM documents), " +
        s"s AS (SELECT lang, ${ratioSql("en")} s_en, ${ratioSql("de")} s_de, " +
        s"${ratioSql("es")} s_es, ${ratioSql("fr")} s_fr FROM t), " +
        "p AS (SELECT lang, " +
        "CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= 0.02 THEN 'en' " +
        "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= 0.02 THEN 'de' " +
        "WHEN s_es >= s_fr AND s_es >= 0.02 THEN 'es' " +
        "WHEN s_fr >= 0.02 THEN 'fr' ELSE 'und' END AS predicted FROM s), " +
        "m AS (SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1, 2) " +
        "SELECT lang, predicted, n, " +
        "sum(n) OVER (PARTITION BY lang)::BIGINT AS lang_total, " +
        "(lang = predicted) AS correct, " +
        "floor(n::DOUBLE / sum(n) OVER (PARTITION BY lang) * 10000) / 10000 AS share " +
        "FROM m"),
    "q_text_langid" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents), " +
        s"s AS (SELECT doc_id, ${ratioSql("en")} s_en, ${ratioSql("de")} s_de, " +
        s"${ratioSql("es")} s_es, ${ratioSql("fr")} s_fr FROM t) " +
        "SELECT doc_id, floor(s_en * 10000) / 10000 AS score_en, " +
        "CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= 0.02 THEN 'en' " +
        "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= 0.02 THEN 'de' " +
        "WHEN s_es >= s_fr AND s_es >= 0.02 THEN 'es' " +
        "WHEN s_fr >= 0.02 THEN 'fr' ELSE 'und' END AS predicted FROM s"),
    "q_text_quality" ->
      ("WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') toks FROM documents), " +
        "m AS (SELECT doc_id, len(toks)::BIGINT n_tokens, " +
        "(n_chars - len(toks) + 1)::DOUBLE / len(toks) tok_len, " +
        s"${ratioSql("en")} stop, " +
        "len(list_distinct(toks))::DOUBLE / len(toks) ttr FROM t) " +
        "SELECT doc_id, n_tokens, floor(tok_len * 10000) / 10000 AS avg_tok_len, " +
        "floor(stop * 10000) / 10000 AS stop_ratio, " +
        "floor(ttr * 10000) / 10000 AS type_token_ratio, " +
        "floor((stop * 0.3 + ttr * 0.5 + CASE WHEN n_tokens >= 20 THEN 0.2 ELSE 0.0 END) * 10000) / 10000 AS quality FROM m"),
    "q_text_tokens" ->
      ("SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_ws_tokens, " +
        "len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS n_re_tokens, n_chars FROM documents"),
    "q_source_overlap" ->
      ("WITH t AS (SELECT source, string_split(text, ' ') tok FROM documents), " +
        "sh AS (SELECT source, unnest(list_transform(range(1, len(tok)-1), " +
        "i -> tok[i]||' '||tok[i+1]||' '||tok[i+2])) s FROM t), " +
        "g AS (SELECT DISTINCT source, " +
        "('0x'||substr(md5(s),1,15))::BIGINT AS sh FROM sh), " +
        "sizes AS (SELECT source, count(*) AS sz FROM g GROUP BY 1), " +
        "i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter " +
        "FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT src_a, src_b, inter, sa.sz AS sz_a, sb.sz AS sz_b, " +
        "floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000) / 10000 AS jaccard, " +
        "floor(inter::DOUBLE / sa.sz * 10000) / 10000 AS contain_a, " +
        "floor(inter::DOUBLE / sb.sz * 10000) / 10000 AS contain_b " +
        "FROM i JOIN sizes sa ON src_a = sa.source JOIN sizes sb ON src_b = sb.source"),
    "q_token_budget" ->
      ("WITH t AS (SELECT doc_id, source, " +
        "len(string_split(text, ' '))::BIGINT AS n_tok, " +
        "('0x'||substr(md5('budget|'||doc_id),1,15))::BIGINT AS hk FROM documents), " +
        "c AS (SELECT doc_id, source, n_tok, sum(n_tok) OVER " +
        "(PARTITION BY source ORDER BY hk, doc_id)::BIGINT AS cum_tok FROM t) " +
        "SELECT doc_id, source, n_tok, cum_tok FROM c WHERE cum_tok <= 20000"),
    "q_text_fingerprint" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "sh AS (SELECT doc_id, list_transform(range(1, len(tok)-1), i -> " +
        "('0x'||substr(md5(tok[i]||' '||tok[i+1]||' '||tok[i+2]),1,15))::BIGINT) hs FROM t), " +
        "w AS (SELECT doc_id, list_distinct(list_transform(range(1, len(hs)-2), i -> " +
        "least(hs[i], hs[i+1], hs[i+2], hs[i+3]))) fps FROM sh) " +
        "SELECT doc_id, unnest(fps) AS fp FROM w"),
    "q_text_chunks" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "c AS (SELECT doc_id, unnest(range(0, (len(tok) + 49) // 50)) ci, tok FROM t), " +
        "ch AS (SELECT doc_id, ci AS chunk_idx, " +
        "least(50, len(tok) - ci * 50)::BIGINT AS n_tokens, " +
        "('0x' || substr(md5(array_to_string(tok[ci*50+1 : least((ci+1)*50, len(tok))], ' ')), 1, 15))::BIGINT AS chunk_hash " +
        "FROM c) " +
        "SELECT doc_id, chunk_idx, n_tokens, chunk_hash, " +
        "count(*) OVER (PARTITION BY chunk_hash) AS n_same FROM ch"),
    "q_text_termstats" ->
      ("SELECT tok AS token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents) GROUP BY 1"),
    "q_text_lengths" ->
      ("WITH t AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tokens " +
        "FROM documents) , " +
        "tp AS (SELECT n_tokens FROM t WHERE n_tokens > 0), " +
        "b AS (SELECT (len(bin(n_tokens)) - 1)::BIGINT AS bucket, " +
        "count(*) AS n_docs, sum(n_tokens)::BIGINT AS tokens, " +
        "min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens " +
        "FROM tp GROUP BY 1), " +
        "c AS (SELECT *, " +
        "sum(n_docs) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS cum_docs, " +
        "sum(tokens) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS cum_tokens FROM b), " +
        "tot AS (SELECT count(*) AS total_docs, sum(n_tokens)::BIGINT " +
        "AS total_tokens FROM tp) " +
        "SELECT bucket, n_docs, tokens, min_tokens, max_tokens, " +
        "floor(cum_docs::DOUBLE / total_docs * 10000) / 10000 AS doc_share_le, " +
        "floor(cum_tokens::DOUBLE / total_tokens * 10000) / 10000 AS token_share_le " +
        "FROM c CROSS JOIN tot"),
    "q_source_contam" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_transform(range(1, len(tok) - 3), " +
        "i -> tok[i]||' '||tok[i+1]||' '||tok[i+2]||' '||tok[i+3]||' '||tok[i+4])) s " +
        "FROM t), " +
        "gr AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT gh FROM sh), " +
        "bench AS (SELECT DISTINCT gh FROM gr WHERE doc_id % 97 = 0), " +
        "fl AS (SELECT gr.doc_id, count(*) AS n_hits FROM gr JOIN bench USING (gh) " +
        "WHERE gr.doc_id % 97 <> 0 GROUP BY 1), " +
        "tr AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0) " +
        "SELECT source, count(*) AS n_docs, " +
        "sum(CASE WHEN n_hits IS NOT NULL THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_contaminated, " +
        "sum(coalesce(n_hits, 0))::BIGINT AS gram_hits, " +
        "floor(sum(CASE WHEN n_hits IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / " +
        "count(*) * 10000) / 10000 AS contam_rate " +
        "FROM tr LEFT JOIN fl USING (doc_id) GROUP BY 1"),
    "q_text_llr" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "gi AS (SELECT tok, unnest(range(1, len(tok))) AS i FROM t), " +
        "g AS (SELECT tok[i] w1, tok[i + 1] w2 FROM gi), " +
        "pairs AS (SELECT w1, w2, count(*)::BIGINT AS k11 FROM g GROUP BY 1, 2 " +
        "HAVING count(*) >= 5), " +
        "m AS (SELECT count(*)::BIGINT AS nn FROM g), " +
        "cx AS (SELECT w1 wx, count(*)::BIGINT AS c1 FROM g GROUP BY 1), " +
        "cy AS (SELECT w2 wy, count(*)::BIGINT AS c2 FROM g GROUP BY 1), " +
        "tab AS (SELECT w1, w2, k11, c1, c2, c1 - k11 k12, c2 - k11 k21, " +
        "nn - c1 - c2 + k11 k22, nn " +
        "FROM pairs JOIN cx ON w1 = wx JOIN cy ON w2 = wy CROSS JOIN m), " +
        "sc AS (SELECT w1, w2, k11, c1, c2, floor(2.0 * (" +
        Seq("k11", "k12", "k21", "k22").map(t =>
          s"CASE WHEN $t > 0 THEN $t::DOUBLE * ln($t::DOUBLE) ELSE 0.0 END")
          .mkString(" + ") +
        " - " + Seq("c1", "k11 + k21", "k12 + k22", "nn - c1").map(t =>
          s"CASE WHEN $t > 0 THEN ($t)::DOUBLE * ln(($t)::DOUBLE) ELSE 0.0 END")
          .mkString(" - ") +
        " + CASE WHEN nn > 0 THEN nn::DOUBLE * ln(nn::DOUBLE) ELSE 0.0 END" +
        ") * 10000) / 10000 AS llr FROM tab), " +
        "rk AS (SELECT *, row_number() OVER (ORDER BY llr DESC, w1, w2) AS rnk " +
        "FROM sc) SELECT w1, w2, k11, c1, c2, llr, rnk FROM rk WHERE rnk <= 25"),
    "q_chao1" ->
      ("WITH tf AS (SELECT source, unnest(string_split(text, ' ')) t " +
        "FROM documents), " +
        "c AS (SELECT source, t, count(*)::BIGINT n FROM tf GROUP BY 1, 2), " +
        "g AS (SELECT source, sum(n)::BIGINT n_tokens, count(*)::BIGINT n_types, " +
        "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT f1, " +
        "sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)::BIGINT f2 FROM c GROUP BY 1) " +
        "SELECT source, n_tokens, n_types, f1, f2, " +
        "floor((n_types + (f1 * (f1 - 1))::DOUBLE / ((f2 + 1) * 2)) * 10000) / 10000 " +
        "AS chao1_est, " +
        "floor((1.0 - f1::DOUBLE / n_tokens) * 10000) / 10000 AS coverage FROM g"),
    "q_text_pmi" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "gi AS (SELECT tok, unnest(range(1, len(tok))) AS i FROM t), " +
        "g AS (SELECT tok[i] w1, tok[i + 1] w2 FROM gi), " +
        "pairs AS (SELECT w1, w2, count(*) AS c_xy FROM g GROUP BY 1, 2 " +
        "HAVING count(*) >= 5), " +
        "m AS (SELECT count(*) AS m_total FROM g), " +
        "cx AS (SELECT w1 wx, count(*) AS c_x FROM g GROUP BY 1), " +
        "cy AS (SELECT w2 wy, count(*) AS c_y FROM g GROUP BY 1), " +
        "lifted AS (SELECT w1, w2, c_xy, " +
        "floor((m_total * c_xy)::DOUBLE / (c_x * c_y) * 10000) / 10000 AS lift " +
        "FROM pairs JOIN cx ON w1 = wx JOIN cy ON w2 = wy CROSS JOIN m), " +
        "rk AS (SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rnk " +
        "FROM lifted) " +
        "SELECT w1, w2, c_xy, lift, rnk FROM rk WHERE rnk <= 25"),
    "q_source_report" ->
      ("WITH h AS (SELECT source, lang, n_chars, " +
        "len(string_split(text, ' '))::BIGINT AS n_toks, md5(text) AS th " +
        "FROM documents), " +
        "c AS (SELECT *, count(*) OVER (PARTITION BY source, th) AS copies FROM h) " +
        "SELECT source, lang, count(*) AS n_docs, " +
        "sum(n_toks)::BIGINT AS tokens_total, " +
        "floor(sum(n_chars)::DOUBLE / count(*) * 100) / 100 AS mean_chars, " +
        "sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_docs, " +
        "floor(sum(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END)::DOUBLE / count(*) " +
        "* 10000) / 10000 AS long_ratio " +
        "FROM c GROUP BY 1, 2"),
    "q_text_familiarity" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(range(1, len(tok)), " +
        "i -> ('0x'||substr(md5(tok[i]||' '||tok[i+1]),1,15))::BIGINT)) gh FROM t), " +
        "c AS (SELECT doc_id, count(*) OVER (PARTITION BY gh) AS cnt FROM g) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "floor(sum(cnt)::DOUBLE / count(*) * 10000) / 10000 AS familiarity, " +
        "floor(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) * 10000) / 10000 AS uniq_ratio " +
        "FROM c GROUP BY 1"),
    "q_feature_hash" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents), " +
        "hb AS (SELECT doc_id, ('0x'||substr(md5(t),1,15))::BIGINT % 64 AS bucket, " +
        "CASE WHEN ('0x'||substr(md5('sign|'||t),1,15))::BIGINT % 2 = 0 " +
        "THEN 1 ELSE -1 END AS sgn FROM tok), " +
        "fv AS (SELECT doc_id, bucket, sum(sgn)::BIGINT AS weight, " +
        "count(*) AS n_tokens FROM hb GROUP BY 1, 2), " +
        "r AS (SELECT doc_id, bucket, weight, n_tokens, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY abs(weight) DESC, bucket) AS rnk FROM fv) " +
        "SELECT doc_id, bucket, weight, n_tokens, rnk FROM r WHERE rnk <= 8"),
    "q_text_tfidf" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents), " +
        "tf AS (SELECT doc_id, t, count(*) tf FROM tok GROUP BY 1, 2), " +
        "df AS (SELECT t, count(DISTINCT doc_id) df FROM tok GROUP BY 1), " +
        "n AS (SELECT count(*) nd FROM documents), " +
        "scored AS (SELECT doc_id, t, tf, tf * ln(nd::DOUBLE / df) s " +
        "FROM tf JOIN df USING (t) CROSS JOIN n), " +
        "ranked AS (SELECT doc_id, t, tf, s, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY s DESC, t) rnk FROM scored) " +
        "SELECT doc_id, t AS token, tf, floor(s * 10000) / 10000 AS tfidf, rnk " +
        "FROM ranked WHERE rnk <= 3"),
    "q_text_normalize" ->
      (pertCte + " SELECT doc_id, n_chars_raw, length(nt)::BIGINT AS n_chars_norm, " +
        "md5(nt) AS norm_hash FROM norm"),
    "q_dedup_normalized" ->
      (pertCte + " SELECT md5(nt) AS text_hash, min(doc_id) AS keep_id, " +
        "count(*) AS n_copies FROM norm GROUP BY 1"),
    "q_text_dsir" ->
      ("WITH t AS (SELECT doc_id, string_split(text,' ') tok FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_transform(range(1, len(tok)), " +
        "i -> tok[i]||' '||tok[i+1])) s FROM t), " +
        "bgr AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT % 1024 b FROM sh), " +
        "tgt AS (SELECT b, count(*) nt FROM bgr WHERE doc_id % 97 = 0 GROUP BY 1), " +
        "raw AS (SELECT b, count(*) nr FROM bgr WHERE doc_id % 97 <> 0 GROUP BY 1), " +
        "grid AS (SELECT unnest(range(0, 1024)) b), " +
        "f AS (SELECT grid.b, coalesce(nt, 0) nt, coalesce(nr, 0) nr " +
        "FROM grid LEFT JOIN tgt ON grid.b = tgt.b LEFT JOIN raw ON grid.b = raw.b), " +
        "w AS (SELECT b, nt, nr, sum(nt) OVER () tt, sum(nr) OVER () tr FROM f), " +
        "lut AS (SELECT b, CAST(floor((ln((nt + 1)::DOUBLE / (tt + 1024)) - " +
        "ln((nr + 1)::DOUBLE / (tr + 1024))) * 1000000) AS BIGINT) term_scaled FROM w) " +
        "SELECT doc_id, count(*) AS n_bigrams, sum(term_scaled)::BIGINT AS w_scaled, " +
        "floor(sum(term_scaled)::DOUBLE / 1000000 / count(*) * 10000) / 10000 AS avg_logratio " +
        "FROM bgr JOIN lut USING (b) WHERE doc_id % 97 <> 0 GROUP BY 1"),
    "q_text_decontam" ->
      ("WITH t AS (SELECT doc_id, string_split(text,' ') tok FROM documents), " +
        // 5-gram rows: indices 1..len-4 (range bound is exclusive)
        "sh AS (SELECT doc_id, unnest(list_transform(range(1, len(tok)-3), " +
        "i -> tok[i]||' '||tok[i+1]||' '||tok[i+2]||' '||tok[i+3]||' '||tok[i+4])) s FROM t), " +
        "gr AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT gh FROM sh), " +
        "bench AS (SELECT DISTINCT gh FROM gr WHERE doc_id % 97 = 0) " +
        "SELECT gr.doc_id, count(*) AS n_hits, count(DISTINCT gr.gh) AS n_distinct_grams " +
        "FROM gr JOIN bench USING (gh) WHERE gr.doc_id % 97 <> 0 GROUP BY 1"),
    "q_seq_packing" ->
      ("WITH t AS (SELECT doc_id, len(string_split(text,' '))::BIGINT n_tokens FROM documents), " +
        "o AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT tok_offset FROM t) " +
        "SELECT doc_id, n_tokens, tok_offset, tok_offset // 2048 AS first_pack, " +
        "(tok_offset + n_tokens - 1) // 2048 AS last_pack, " +
        "((tok_offset + n_tokens - 1) // 2048 - tok_offset // 2048 + 1) AS n_packs FROM o"),
    "q_stratified_sample" ->
      ("SELECT doc_id, lang, n_chars, rnk FROM (SELECT doc_id, lang, n_chars, " +
        "row_number() OVER (PARTITION BY lang ORDER BY " +
        "('0x'||substr(md5('strat|'||doc_id),1,15))::BIGINT, doc_id) rnk " +
        "FROM documents) WHERE rnk <= 25"),
    "q_corpus_pipeline" ->
      (pertCte + ", tk AS (SELECT doc_id, nt, len(string_split(nt, ' '))::BIGINT n_tokens " +
        "FROM norm WHERE len(string_split(nt, ' ')) >= 20), " +
        "surv AS (SELECT min(doc_id) doc_id, max(n_tokens) n_tokens FROM tk GROUP BY md5(nt)) " +
        "SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens " +
        "FROM surv JOIN documents USING (doc_id) GROUP BY lang"),
    "q_text_sparse_sim" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_transform(range(1, len(tok) - 1), " +
        "i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) s FROM t), " +
        "tf AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT term, count(*) tf " +
        "FROM sh GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) nd FROM documents), " +
        "w AS (SELECT doc_id, term, tf * ln(nd::DOUBLE / df) w " +
        "FROM tf JOIN df USING (term) CROSS JOIN n WHERE df <= 50 AND df < nd), " +
        "nrm AS (SELECT doc_id, sqrt(sum(w * w)) nrm, md5(min(text)) th " +
        "FROM w JOIN documents USING (doc_id) GROUP BY 1), " +
        "dots AS (SELECT a.doc_id doc_a, b.doc_id doc_b, sum(a.w * b.w) dot, " +
        "count(*) n_terms FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT doc_a, doc_b, n_terms, " +
        "CASE WHEN x.th = y.th THEN 1.0 " +
        "ELSE floor(dot / (x.nrm * y.nrm) * 10000) / 10000 END cos_sim " +
        "FROM dots JOIN nrm x ON doc_a = x.doc_id JOIN nrm y ON doc_b = y.doc_id) " +
        "SELECT doc_a, doc_b, n_terms, cos_sim FROM c WHERE cos_sim >= 0.2"),
    "q_weighted_sample" ->
      ("WITH c AS (SELECT doc_id, lang, n_chars, " +
        "('0x'||substr(md5('wsamp|'||doc_id),1,15))::BIGINT % 1000000 AS coin " +
        "FROM documents) " +
        "SELECT doc_id, lang, n_chars, coin FROM c " +
        "WHERE coin < CAST(floor(least(1.0, n_chars::DOUBLE / 2000.0) * 1000000) AS BIGINT)"),
    "q_train_split" ->
      ("WITH s AS (SELECT lang, n_chars, CASE " +
        "WHEN ('0x'||substr(md5('split|'||doc_id),1,15))::BIGINT % 100 < 80 THEN 'train' " +
        "WHEN ('0x'||substr(md5('split|'||doc_id),1,15))::BIGINT % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents) " +
        "SELECT lang, split, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars " +
        "FROM s GROUP BY 1, 2"),
    "q_text_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "g AS (SELECT doc_id, 2 n, unnest(list_transform(range(1, len(tok)), " +
        "i -> tok[i] || ' ' || tok[i+1])) s FROM t " +
        "UNION ALL SELECT doc_id, 3 n, unnest(list_transform(range(1, len(tok) - 1), " +
        "i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) s FROM t), " +
        "c AS (SELECT doc_id, n, s, count(*) c FROM g GROUP BY 1, 2, 3), " +
        "m AS (SELECT doc_id, " +
        "sum(CASE WHEN n = 2 THEN c ELSE 0 END)::BIGINT total2, " +
        "max(CASE WHEN n = 2 THEN c END)::BIGINT top2, " +
        "sum(CASE WHEN n = 2 AND c >= 2 THEN c ELSE 0 END)::BIGINT dup2, " +
        "sum(CASE WHEN n = 3 THEN c ELSE 0 END)::BIGINT total3, " +
        "sum(CASE WHEN n = 3 THEN 1 ELSE 0 END)::BIGINT distinct3 FROM c GROUP BY 1), " +
        "f AS (SELECT doc_id, total2, " +
        "floor(top2::DOUBLE / total2 * 10000) / 10000 top_f, " +
        "floor(dup2::DOUBLE / total2 * 10000) / 10000 dup2_f, " +
        "floor((total3 - distinct3)::DOUBLE / total3 * 10000) / 10000 dup3_f " +
        "FROM m WHERE total3 > 0) " +
        "SELECT doc_id, total2 AS n_bigrams, top_f AS top_bigram_frac, " +
        "dup2_f AS dup_bigram_frac, dup3_f AS dup_trigram_frac, " +
        "CASE WHEN top_f >= 0.2 OR dup2_f >= 0.1 THEN 'repetitive' ELSE 'ok' END AS verdict FROM f"),
    "q_text_redact" ->
      ("WITH p AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 5 = 0 THEN text || ' contact user' || doc_id || '@mail.example.com now' " +
        "WHEN doc_id % 5 = 1 THEN text || ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') " +
        "|| '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') " +
        "WHEN doc_id % 5 = 2 THEN text || ' from 10.' || (doc_id % 256) || '.' " +
        "|| ((doc_id // 256) % 256) || '.77' " +
        "ELSE text END AS text FROM documents), " +
        s"r AS (SELECT doc_id, text, regexp_replace(regexp_replace(regexp_replace(text, " +
        s"'$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$IpRe', '<IP>', 'g') rt FROM p) " +
        s"SELECT doc_id, len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_emails, " +
        s"len(regexp_extract_all(text, '$PhoneRe'))::BIGINT AS n_phones, " +
        s"len(regexp_extract_all(text, '$IpRe'))::BIGINT AS n_ips, " +
        "length(rt)::BIGINT AS n_chars_redacted, md5(rt) AS redact_hash FROM r"),
    "q_text_zipf" ->
      ("WITH tf AS (SELECT lang, unnest(string_split(text, ' ')) t FROM documents), " +
        "c AS (SELECT lang, t, count(*) tf FROM tf GROUP BY 1, 2), " +
        "r AS (SELECT lang, tf, row_number() OVER " +
        "(PARTITION BY lang ORDER BY tf DESC, t) rnk FROM c), " +
        "q AS (SELECT lang, CAST(floor(ln(rnk::DOUBLE) * 1048576) AS BIGINT) x, " +
        "CAST(floor(ln(tf::DOUBLE) * 1048576) AS BIGINT) y FROM r WHERE rnk <= 1000), " +
        "s AS (SELECT lang, count(*) n, sum(x)::BIGINT sx, sum(y)::BIGINT sy, " +
        "sum(x*x)::BIGINT sxx, sum(x*y)::BIGINT sxy FROM q GROUP BY 1), " +
        "f AS (SELECT lang, n, " +
        "(n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / " +
        "(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) slope, " +
        "sx::DOUBLE sxd, sy::DOUBLE syd, n::DOUBLE nd FROM s WHERE n >= 10) " +
        "SELECT lang, n AS n_terms, floor(slope * 10000) / 10000 AS slope, " +
        "floor((syd - slope * sxd) / nd / 1048576 * 10000) / 10000 AS intercept FROM f"),
    "q_text_heaps" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "o AS (SELECT doc_id, tok, coalesce(sum(len(tok)::BIGINT) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT tok_offset, " +
        "len(tok)::BIGINT n_tokens FROM t), " +
        "p AS (SELECT tok_offset + unnest(range(len(tok)))::BIGINT pos, unnest(tok) w FROM o), " +
        "fp AS (SELECT w, min(pos) fp FROM p GROUP BY 1), " +
        "tot AS (SELECT max(tok_offset + n_tokens)::BIGINT t FROM o), " +
        "ck AS (SELECT DISTINCT t // CAST(pow(2, uk) AS BIGINT) n_prefix " +
        "FROM tot, (SELECT unnest(range(8)) uk) WHERE t // CAST(pow(2, uk) AS BIGINT) > 0), " +
        "c AS (SELECT n_prefix, count(*)::BIGINT vocab FROM fp, ck " +
        "WHERE fp.fp < ck.n_prefix GROUP BY 1), " +
        "q AS (SELECT n_prefix, vocab, CAST(floor(ln(n_prefix::DOUBLE) * 1048576) AS BIGINT) x, " +
        "CAST(floor(ln(vocab::DOUBLE) * 1048576) AS BIGINT) y FROM c), " +
        "l AS (SELECT n_prefix, vocab, x, y, lag(x) OVER (ORDER BY n_prefix) px, " +
        "lag(y) OVER (ORDER BY n_prefix) py FROM q) " +
        "SELECT n_prefix, vocab, CASE WHEN px IS NOT NULL THEN " +
        "floor((y - py)::DOUBLE / (x - px)::DOUBLE * 10000) / 10000 END AS beta FROM l"))
}
