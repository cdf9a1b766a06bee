package graft.operators

import graft.{Scope, Tables}
import graft.functions.NativeVector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (`Array[Float]`, dim 64) — SURVEY.md §7 L4.
  *
  * Three paths:
  *  - `bruteForceTopK` — exact cosine top-k against a broadcast query
  *    set. Linear scan: one pass over the vectors, no shuffle except the
  *    final per-query top-k. The correctness baseline.
  *  - `annTopK` / `nearDupPairs` — sign-random-projection LSH: 16
  *    deterministic hyperplanes → 16 sign bits → 4 bands × 4 bits.
  *    Candidates share ≥1 band with the query (or each other), so work
  *    is O(bucket collisions), not O(n·q) / O(n²) — the 100 TB path.
  *  - `ivfTopK` — IVF-flat with k-means-trained coarse centroids; the
  *    probe is an equi-join on list_id, so work is NProbe/NList of the
  *    corpus per query.
  *
  * Recall < 1 for both approximate paths by construction; the oracles
  * replicate the same approximation so results still hash-match, and
  * [[recallAtK]] MEASURES recall@k of each path against the exact
  * baseline (the number a pipeline tunes nlist/nprobe/bands against).
  *
  * Hyperplane coordinates are rationals k/1000 derived from md5 in Scala
  * and embedded as literals in BOTH the Spark plan and the generated
  * oracle SQL — one source of truth, exact decimal parse in both engines.
  * K-means centroids are NOT literals — both engines TRAIN them with
  * exact integer arithmetic (see [[trainedCentroids]]) and provably
  * arrive at bit-identical values.
  */
object Similarity {

  import graft.functions.Portable.trunc4

  val Dim = 64
  val NumPlanes = 16
  val Bands = 4
  val RowsPerBand = 4
  /** The all-pairs kNN-graph chain uses a WIDER banding than the
    * query-scoped ANN ops: candidate volume for a self-join is
    * Θ(n² / (bands · 2^rows)), so the 4×4 geometry's 16-bucket key
    * space quadraticizes as the corpus grows (measured: 21× time at
    * 10× vectors). 8 bands × 8 bits = 256 buckets per band cuts the
    * constant 16× while keeping high-cosine recall (p_bit^8 per band
    * across 8 bands ≈ 0.94 at cos 0.9 vs 0.96 for 4×4); at production
    * scale pick rows ≈ log2(n / targetBucket) the same way. */
  val KnnBands = 8
  val KnnRowsPerBand = 8

  /** Random-projection-tree geometry ([[rptTopK]]): `RptTrees`
    * independent trees of depth `RptDepth` (8 leaves each), split at
    * the SAMPLED-median projection (every `RptSampleMod`-th vector by
    * id hash — the Dasgupta–Freund construction, which is what keeps
    * the build distributable: thresholds come from a bounded sample
    * relation and broadcast, so no corpus-wide sort ever runs). */
  val RptTrees = 2
  val RptDepth = 3
  val RptSampleMod = 8L

  /** The driver-wired query-vector ids (mirrored in the oracle SQL). */
  val DefaultQueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)
  private val idsSql = DefaultQueryIds.mkString("(", ",", ")")

  /** Deterministic pseudo-random hyperplanes: md5(s"$h,$d") → 60-bit
    * int → value in [-1, 1] with 3 decimals. */
  lazy val hyperplanes: Array[Array[Double]] = {
    val mdi = java.security.MessageDigest.getInstance("MD5")
    val pool = math.max(NumPlanes, KnnBands * KnnRowsPerBand) +
      RptTrees * RptDepth // fresh planes for the RP-tree levels
    Array.tabulate(pool, Dim) { (h, d) =>
      val hex = mdi.digest(s"$h,$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
    }
  }

  private def planeLit(h: Int): Column =
    array(hyperplanes(h).map(lit): _*)

  /** Band keys for an arbitrary (bands × rows) geometry, computed by
    * the single-loop native expression: the composed per-plane form
    * blows the codegen method limit past ~16 planes and silently
    * drops the whole stage to interpreted mode (measured 13 s → 2 s
    * on q_sim_neardup at 10× scale). */
  private def bandStructsWith(embD: Column, bands: Int, rows: Int): Column = {
    val keys = NativeVector.signBandKeys(embD, hyperplanes, bands, rows)
    transform(keys, (k, i) => struct(i.as("band"), k.as("bkey")))
  }

  /** Band keys: integer of 4 consecutive sign bits per band (the
    * query-scoped ANN geometry). */
  private def bandStructs(embD: Column): Column =
    bandStructsWith(embD, Bands, RowsPerBand)

  /** Spread the CPU-bound per-row hyperplane-dot work across the
    * cluster (a small parquet input is 1–2 splits). Embeddings stay
    * float; NativeVector widens per element inside its codegen loop. */
  private[graft] def withEmbD(emb: DataFrame): DataFrame =
    graft.functions.Portable.spread(emb, col("vec_id"))
      .select(col("vec_id"), col("embedding").as("e"))

  /** Shared top-k tail: rank scored (q_id, vec_id, cos) rows per query
    * by descending cosine (vec_id tie-break), keep the k best. The ONE
    * definition of ranking/tie-breaking for every similarity path. */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Exact cosine top-k per query vector (queries broadcast). */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val v = withEmbD(emb)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    topKByCos(v.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos")), k)
  }

  /** LSH-bucketed ANN top-k: rank only candidates sharing a band with
    * the query. Eager result so the banded intermediate can be released
    * (library callers don't accumulate cached relations). */
  def annTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = Scope { s =>
    val v = withEmbD(emb)
    val bands = s.persist(v.select(col("vec_id"), col("e"), explode(bandStructs(col("e"))).as("bb"))
      .select(col("vec_id"), col("e"), col("bb.band").as("band"), col("bb.bkey").as("bkey")))
    val qb = bands.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("band"), col("bkey"))
    val cand = bands.join(broadcast(qb), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("qe"), col("e"))
      .dropDuplicates("q_id", "vec_id")
    topKByCos(cand.select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos")), k)
      .localCheckpoint(true) // k rows per query — tiny at any scale
  }

  /** Contrastive hard-negative mining — the training-pair generator
    * for embedding finetuning (Robinson et al. 2021's "hard negatives"
    * reduced to retrieval): for each query vector, the top-`k` NEAREST
    * candidates whose label DIFFERS from the query's — the negatives a
    * contrastive loss learns most from, because they sit closest to
    * the decision boundary. Exactly [[annTopK]]'s candidate machinery
    * (banded LSH, query side broadcast, one dedup) with the label
    * filter applied BEFORE the per-query rank, so the k slots go to
    * cross-label near-misses rather than being used up by same-label
    * true neighbors. */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long] = DefaultQueryIds,
      k: Int = 10): DataFrame = Scope { s =>
    val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val v = withEmbD(emb)
    val bands = s.persist(v.select(col("vec_id"), col("e"), explode(bandStructs(col("e"))).as("bb"))
      .select(col("vec_id"), col("e"), col("bb.band").as("band"), col("bb.bkey").as("bkey")))
    val qb = bands.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("band"), col("bkey"))
    val cand = bands.join(broadcast(qb), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("qe"), col("e"))
      .dropDuplicates("q_id", "vec_id")
    val scored = cand.select(col("q_id"), col("vec_id"),
      trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
    val crossLabel = scored
      .join(broadcast(lbl.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))), "q_id")
      .join(lbl.select(col("vec_id"), col("label").as("neg_label")), "vec_id")
      .filter(col("q_label") =!= col("neg_label"))
    topKByCos(crossLabel, k)
      .select(col("q_id"), col("q_label"), col("vec_id"), col("neg_label"),
        col("cos"), col("rnk"))
      .localCheckpoint(true) // ≤ k rows per query
  }

  /** Multi-probe LSH ANN top-k: like [[annTopK]], but each query also
    * probes every single-bit-flip NEIGHBOR of its band keys (1 + 4
    * variants per band). Near-misses — vectors one hyperplane sign away
    * — become candidates, trading 5× the (tiny) query-side probe fan-out
    * for recall; the corpus-side banding is unchanged, so the scan/
    * shuffle cost model is identical to single-probe. Measured by
    * [[recallAtK]] as method `ann_mp`. */
  def annTopKMultiProbe(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame =
    annTopKMultiProbeOn(withEmbD(emb), queryIds, k)

  /** [[annTopKMultiProbe]] over an already-projected vector relation
    * (shared by [[rrfFusion]], which reuses one persisted `v` across
    * both ANN methods — the [[recallAtK]] discipline). */
  private def annTopKMultiProbeOn(v: DataFrame, queryIds: Seq[Long],
      k: Int): DataFrame = Scope { s =>
    val bands = s.persist(v.select(col("vec_id"), col("e"), explode(bandStructs(col("e"))).as("bb"))
      .select(col("vec_id"), col("e"), col("bb.band").as("band"), col("bb.bkey").as("bkey")))
    val variants = col("bkey") +:
      (0 until RowsPerBand).map(i => col("bkey").bitwiseXOR(lit(1 << i)))
    val qb = bands.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("band"),
        explode(array(variants: _*)).as("bkey"))
    val cand = bands.join(broadcast(qb), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("qe"), col("e"))
      .dropDuplicates("q_id", "vec_id")
    topKByCos(cand.select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos")), k)
      .localCheckpoint(true)
  }

  val NList = 16
  val NProbe = 4
  val KmIters = 2

  /** 2^20 — the exact-quantization scale for k-means (see
    * [[trainedCentroids]]): float×2^20 is an exponent shift (exact in
    * IEEE doubles), so `floor` of it is engine-independent. */
  val QScale = 1048576.0

  /** Seed coarse centroids: the embeddings of vec_id 0 until k, a
    * literal id slice, so the seed relation is at most k rows by its
    * plan and safe to broadcast at any scale. */
  private[graft] def seedCentroids(v: DataFrame, k: Int = NList): DataFrame =
    v.filter(col("vec_id").isin(0 until k: _*))
      .select(col("vec_id").cast("int").as("cid"), col("e").as("ce"))

  /** [[seedCentroids]]' slice as an oracle SQL predicate. */
  private def seedSliceSql(k: Int): String = s"vec_id IN (${(0 until k).mkString(", ")})"

  /** argmax-cosine assignment of every vector to its centroid, via a
    * broadcast of the NList centroids and a `max_by` hash aggregate —
    * map-side combined, so the shuffle carries one (vec_id, cid) pair
    * per vector, never the embedding. Ties (same trunc4 cosine) break
    * to the smaller centroid id in both engines. */
  private[graft] def assignTo(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        trunc4(NativeVector.cosine(col("e"), col("ce"))).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(cid, struct(ccos, -cid))").as("list_id"))

  /** One Lloyd step: assign, then per-cluster mean — computed with
    * EXACT integer arithmetic so both engines land on bit-identical
    * centroids regardless of partial-agg merge order. Each dim is
    * quantized `floor(e_d · 2^20)` (exact: power-of-two scaling shifts
    * the exponent, floor is engine-independent, magnitudes stay far
    * under 2^53 so the per-cluster sums are exact integers in Spark's
    * LongType and DuckDB's double-sum alike); the mean then runs the
    * SAME division sequence `sum/n/2^20` in IEEE doubles on both sides.
    * A cluster that loses all members drops out of the centroid set —
    * identically in both engines. */
  private def centroidStep(v: DataFrame, cents: DataFrame, dim: Int = Dim): DataFrame = {
    val sums = (0 until dim).map(d =>
      sum(floor(element_at(col("e"), d + 1) * QScale)).as(s"s$d"))
    v.join(assignTo(v, cents), "vec_id")
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("list_id").as("cid"),
        array((0 until dim).map(d =>
          col(s"s$d").cast("double") / col("n") / QScale): _*).as("ce"))
  }

  /** Deterministic 1-in-4 training sample, keyed on the vector id with
    * the engine-portable md5 idiom (same pattern as Dedup.hashSample).
    * Coarse-quantizer k-means never needs the full corpus — production
    * IVF builds (Faiss et al.) train on a bounded subsample, and at
    * 100 TB training on every vector would dwarf the index build. */
  private[graft] def kmSample(v: DataFrame): DataFrame =
    v.filter(pmod(graft.functions.TextHash.hash60(
      concat(lit("kms|"), col("vec_id"))), lit(4L)) === 0)

  /** Deterministic relational k-means: `iters` fixed Lloyd steps from
    * the seed set, trained on [[kmSample]]. No driver-side collect —
    * assignment is a broadcast join + map-side-combined aggregate, the
    * update is one exact-sum aggregate per step; only the 16-row
    * centroid relation itself moves through broadcast exchanges. */
  private[graft] def trainedCentroids(v: DataFrame, iters: Int = KmIters): DataFrame = {
    val sample = kmSample(v)
    var cents = seedCentroids(v)
    for (_ <- 0 until iters) cents = centroidStep(sample, cents)
    cents
  }

  /** IVF (inverted-file) ANN top-k — the second scale path next to the
    * LSH one, mirroring the classic IVF-flat index as relational ops:
    *
    *  1. coarse centroids: [[trainedCentroids]] — k-means trained with
    *     exact quantized sums (engine-portable, so the oracle SQL
    *     trains the SAME centroids);
    *  2. assignment: every vector → argmax-cosine centroid
    *     ([[assignTo]] — the shuffle carries one pair per vector);
    *  3. probe: each query ranks the centroids and searches only its
    *     top-NProbe inverted lists — an EQUI-join on list_id, so work
    *     is NProbe/NList of the corpus per query instead of all of it.
    *
    * At 100 TB the vectors would additionally be written bucketed by
    * list_id, turning the probe join into partition pruning at the
    * scan (asserted in ScaleSpec). */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // training + assign + probe passes
    ivfTopKOn(v, queryIds, k)
  }

  /** [[ivfTopK]] over an already-persisted vector relation (shared by
    * [[recallAtK]], which reuses one `v` across all methods). */
  private def ivfTopKOn(v: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    // eager: train ONCE, then every broadcast below reads the 16-row
    // checkpoint instead of re-running both Lloyd steps
    val cents = trainedCentroids(v).localCheckpoint(true)
    val assign = assignTo(v, cents)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qe"), col("cid"),
        trunc4(NativeVector.cosine(col("qe"), col("ce"))).as("qcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cid"))))
      .filter(col("prnk") <= NProbe)
      .select(col("q_id"), col("qe"), col("cid").as("list_id"))
    // a vector lives in exactly one list and (q, list) pairs are unique,
    // so (q_id, vec_id) candidates are already distinct — no dedup pass
    val scored = v.join(assign, "vec_id")
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
    topKByCos(scored, k).localCheckpoint(true) // k rows per query
  }

  /** The 100 TB IVF layout the [[ivfTopK]] docstring promises: vectors
    * written BUCKETED by their inverted-list id, so a probe — a filter
    * `list_id IN (top-NProbe lists)` — prunes NList−NProbe buckets at
    * the scan and joins the probe set without re-shuffling the vector
    * side (asserted in ScaleSpec). */
  def writeBucketedByList(emb: DataFrame, warehouse: String,
      table: String = "embeddings_b"): Unit = {
    val v = withEmbD(emb)
    val cents = trainedCentroids(v).localCheckpoint(true)
    v.join(assignTo(v, cents), "vec_id")
      .write.mode("overwrite")
      .bucketBy(NList, "list_id").sortBy("list_id")
      .option("path", s"$warehouse/$table").saveAsTable(table)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embeddings with the k-means coarse quantizer, then compare
    * pairs ONLY within a cluster — a document is dropped when a
    * lower-id cluster-mate sits above the cosine threshold. Unlike the
    * LSH near-dup pass (surface-level sign agreement), this is the
    * published recipe for removing SEMANTIC duplicates from training
    * corpora, and the cluster step is what makes it tractable: pairwise
    * work is Σ|cluster|²/2, not n²/2. At 100 TB the cluster count
    * scales with the corpus (NList grows to hold |cluster| roughly
    * constant, exactly as SemDeDup prescribes), so per-cluster work
    * stays bounded and the self-join shuffles on list_id — an equi-join
    * over bucketable keys, never a cross join.
    *
    * Output: one row per DROPPED vector — its keeper (`dup_of`, the
    * smallest qualifying cluster-mate), how many lower-id mates
    * qualified, and the best (max truncated) cosine among them. All
    * aggregates are order-independent, so the result is engine-exact;
    * the oracle retrains the same k-means (exact quantized sums) and
    * replays the same pairing. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.4): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // training + assignment + pairing passes
    val cents = trainedCentroids(v).localCheckpoint(true)
    val vl = s.persist(v.join(assignTo(v, cents), "vec_id"))
    val pairs = vl.as("x").join(vl.as("y"),
        col("x.list_id") === col("y.list_id") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"), col("x.vec_id").as("a_id"),
        trunc4(NativeVector.cosine(col("x.e"), col("y.e"))).as("cos"))
      .filter(col("cos") >= threshold)
    pairs.groupBy(col("vec_id"))
      .agg(min(col("a_id")).as("dup_of"), count(lit(1)).as("n_dups"),
        max(col("cos")).as("best_cos"))
      .localCheckpoint(true) // dropped set ≪ corpus
  }

  /** IVF index health audit — the report an ANN deployment reads
    * before trusting its recall numbers: per inverted list, its
    * SIZE (balance: a hot list is probe-cost skew, the thing
    * [[simDecontam]]'s maxPerList cap and SemDeDup's NList-growth rule
    * manage) and its assignment-margin statistics (margin = cosine to
    * own centroid − cosine to runner-up, the 2-centroid silhouette: a
    * low-margin list is full of boundary vectors that single-probe
    * search will miss — the empirical justification for
    * [[annTopKMultiProbe]]). All aggregates ride exact 1e-4-quantized
    * integers; the two means are single divisions of exact integers.
    *
    * Scale: centroids broadcast (≤ NList rows); the per-vector top-2
    * is a bounded collect (NList structs) inside ONE map-side-combined
    * hash-agg — deliberately NOT a row_number window, which would
    * shuffle |v|·NList scored rows — then one per-list hash-agg over
    * |v| narrow rows. */
  def ivfStats(emb: DataFrame): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // training + scoring passes
    val cents = trainedCentroids(v).localCheckpoint(true)
    val top2 = v.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(floor(NativeVector.cosine(col("e"), col("ce")) * 10000)
          .cast("long").as("cosq"), (-col("cid")).cast("long").as("ncid")).as("s"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(col("s")), asc = false).as("r"))
      .select(col("vec_id"), (-col("r")(0)("ncid")).as("list_id"),
        col("r")(0)("cosq").as("own_q"), col("r")(1)("cosq").as("next_q"))
    top2.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("own_q")).as("sum_own_q"),
        min(col("own_q")).as("min_own_q"),
        max(col("own_q")).as("max_own_q"),
        sum(col("own_q") - col("next_q")).as("sum_margin_q"))
      .select(col("list_id"), col("n"), col("sum_own_q"), col("min_own_q"),
        col("max_own_q"), col("sum_margin_q"),
        trunc4(col("sum_own_q").cast("double") / col("n") / 10000.0).as("mean_cos"),
        trunc4(col("sum_margin_q").cast("double") / col("n") / 10000.0).as("mean_margin"))
      .localCheckpoint(true) // ≤ NList rows
  }

  /** kNN-classifier embedding eval — the standard "are these
    * embeddings any good" harness (kNN probe accuracy, the linear-probe
    * sibling): EVERY held-out vector is classified by the majority
    * label of its k nearest train-side neighbours, and accuracy is
    * reported per true label. Distinct from [[labelRecall]] (label
    * precision in 5 fixed queries' exact top-k): this evaluates the
    * whole held-out slice THROUGH the IVF index — the only way the
    * eval itself scales — so its numbers are the deployable index's,
    * not an idealized brute-force scan's.
    *
    * Candidates ride the same capped probe equi-join as
    * [[simDecontam]] (hash-capped inverted lists, top-NProbe probes);
    * votes are exact integer counts, majority ties to the smaller
    * label; the per-label accuracy is one division. Held-out vectors
    * whose probed lists yield ZERO candidates count as INCORRECT (a
    * query the index cannot answer is a failure of the index, not a
    * row to silently drop from the denominator) and are additionally
    * reported per label as `n_unclassified`, so `n` is always the
    * full held-out count for that label.
    *
    * Broadcast orientation: the CAPPED INDEX side broadcasts (≤
    * NList·maxPerList rows by construction, scale-invariant); the
    * probe side is the held-out corpus slice × NProbe —
    * corpus-proportional, so it must stay shuffleable. At 100 TB the
    * index side is [[writeBucketedByList]]'s bucketed layout and the
    * probe join prunes at the scan. */
  def knnLabelEval(emb: DataFrame, holdMod: Long = 7L, k: Int = 5,
      maxPerList: Int = 64): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // split + training + assign + probe
    val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val tr = v.filter(pmod(col("vec_id"), lit(holdMod)) =!= 0)
    val ho = v.filter(pmod(col("vec_id"), lit(holdMod)) === 0)
    val cents = trainedCentroids(tr).localCheckpoint(true)
    val capped = tr.join(assignTo(tr, cents), "vec_id")
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("list_id")).orderBy(
          graft.functions.TextHash.hash60(concat(lit("dcap|"), col("vec_id"))),
          col("vec_id"))))
      .filter(col("crnk") <= maxPerList)
      .select(col("vec_id"), col("e"), col("list_id"))
    val probes = ho.select(col("vec_id").as("q_id"), col("e").as("qe"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qe"), col("cid"),
        trunc4(NativeVector.cosine(col("qe"), col("ce"))).as("qcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cid"))))
      .filter(col("prnk") <= NProbe)
      .select(col("q_id"), col("qe"), col("cid").as("list_id"))
    // build side = the CAPPED INDEX (≤ NList·maxPerList rows); the
    // probe side is corpus-proportional and must never carry the hint
    val topk = broadcast(capped).join(probes, Seq("list_id"))
      .select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
    val pred = topk.join(lbl.select(col("vec_id"), col("label").as("n_label")), "vec_id")
      .groupBy(col("q_id"), col("n_label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("q_id"))
      .agg(expr("max_by(n_label, struct(cnt, -n_label))").as("pred"))
    // LEFT join from the full held-out slice: candidate-less queries
    // stay in the denominator (pred NULL → incorrect + n_unclassified)
    ho.select(col("vec_id").as("q_id"))
      .join(lbl.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .join(pred, Seq("q_id"), "left")
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("true_label"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("pred").isNull, 1L).otherwise(0L)).as("n_unclassified"))
      .select(col("true_label"), col("n"), col("n_correct"), col("n_unclassified"),
        trunc4(col("n_correct").cast("double") / col("n")).as("accuracy"))
      .localCheckpoint(true) // ≤ #labels rows
  }

  /** Incremental IVF maintenance audit — the report behind the
    * retrain-or-not decision every production ANN index faces daily:
    * a new vector batch (the held-out slice) is assigned to the
    * FROZEN centroids trained before it arrived (the cheap incremental
    * add: one broadcast + map-side-combined argmax per vector, no
    * retraining), and per inverted list the audit reports the base
    * size, the incremental additions, and `n_would_move` — how many
    * of the additions land in a DIFFERENT list under centroids
    * retrained on the full corpus. A high move fraction means the
    * frozen router has drifted and probe recall is decaying; near-zero
    * means incremental adds are safe to keep batching.
    *
    * Scale: two centroid sets (≤ NList rows each, broadcast), two
    * assignment passes whose shuffles carry one (vec_id, list) pair
    * per vector, one full-outer join of two ≤ NList-row aggregates.
    * Nothing touches pairs. */
  /** The seed-aligned retrained centroid set [[ivfIncr]] and
    * [[graft.streaming.Streaming.streamIvfIncr]] compare the frozen
    * router against: retrained over the FULL corpus sample but from
    * the SAME train-slice seeds, so the two cid spaces align and a
    * frozen≠retrained disagreement means the ROUTING moved, not that
    * cluster labels were renamed. */
  private[graft] def retrainedAlignedCentroids(v: DataFrame, tr: DataFrame): DataFrame = {
    var c = seedCentroids(tr)
    val sample = kmSample(v)
    for (_ <- 0 until KmIters) c = centroidStep(sample, c)
    c.localCheckpoint(true)
  }

  def ivfIncr(emb: DataFrame, holdMod: Long = 7L): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // two trainings + three assigns
    val tr = v.filter(pmod(col("vec_id"), lit(holdMod)) =!= 0)
    val ho = v.filter(pmod(col("vec_id"), lit(holdMod)) === 0)
    val frozen = trainedCentroids(tr).localCheckpoint(true)
    val retrained = retrainedAlignedCentroids(v, tr)
    val base = assignTo(tr, frozen)
      .groupBy(col("list_id")).agg(count(lit(1)).as("n_base"))
    val moves = assignTo(ho, frozen).withColumnRenamed("list_id", "frozen_list")
      .join(assignTo(ho, retrained).withColumnRenamed("list_id", "retrained_list"),
        "vec_id")
      .groupBy(col("frozen_list").as("list_id"))
      .agg(count(lit(1)).as("n_added"),
        sum(when(col("frozen_list") =!= col("retrained_list"), 1L)
          .otherwise(0L)).as("n_would_move"))
    base.join(moves, Seq("list_id"), "full_outer")
      .select(col("list_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_added"), lit(0L))).as("n_new"),
        coalesce(col("n_would_move"), lit(0L)).as("n_would_move"))
      .localCheckpoint(true) // ≤ NList rows
  }

  /** Filtered ANN — top-k under a metadata predicate (here: the
    * query's own label), the classic vector-DB failure mode measured
    * head-on. Two paths per query: EXACT pre-filter (restrict the
    * corpus to the label FIRST — an equi-join on label, never a cross
    * join — then rank) and IVF post-filter (probe the top-NProbe
    * lists, THEN drop non-matching labels, then rank): the audit row
    * carries both candidate counts and recall of post-filter against
    * pre-filter. Post-filter recall collapses when the label is rare
    * inside the probed lists — exactly what this report shows, and why
    * production systems partition or over-probe for selective filters.
    *
    * Scale: pre-filter path shuffles on label (a broadcast of |Q| query
    * rows against the label-filtered corpus); post-filter path reuses
    * the IVF probe equi-join. Candidates stay bounded by the label
    * selectivity resp. NProbe/NList. */
  def filteredTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // training + assign + two scoring passes
    val vl = v.join(emb.select(col("vec_id"), col("label")), "vec_id")
    val q = vl.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("label").as("qlabel"))
      .localCheckpoint(true) // |Q| rows
    val exactScored = vl.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
    val exact = s.persist(exactScored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k).select(col("q_id"), col("vec_id")))
    val cents = trainedCentroids(v).localCheckpoint(true)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qe"), col("qlabel"), col("cid"),
        trunc4(NativeVector.cosine(col("qe"), col("ce"))).as("qcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cid"))))
      .filter(col("prnk") <= NProbe)
      .select(col("q_id"), col("qe"), col("qlabel"), col("cid").as("list_id"))
    val post = s.persist(vl.join(assignTo(v, cents), "vec_id")
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id") && col("label") === col("qlabel"))
      .select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k).select(col("q_id"), col("vec_id")))
    val nf = exactScored.groupBy(col("q_id")).agg(count(lit(1)).as("n_filtered"))
    val nExact = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
    val nPost = post.groupBy(col("q_id")).agg(count(lit(1)).as("n_post"))
    val hits = exact.join(post, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    nf.join(nExact, "q_id")
      .join(nPost, Seq("q_id"), "left").join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_filtered"), col("n_exact"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        trunc4(coalesce(col("hits"), lit(0L)).cast("double") / col("n_exact")).as("recall"))
      .localCheckpoint(true) // |Q| rows
  }

  /** Cross-corpus EMBEDDING-SPACE decontamination — the semantic
    * sibling of TextOps.decontaminate (which catches verbatim n-gram
    * overlap; this catches paraphrased benchmark leakage the surface
    * pass misses, the Yang et al. 2023 "rephrased samples evade n-gram
    * decontamination" failure): flag every held-out/eval vector whose
    * cosine against SOME training vector clears `threshold`.
    *
    * The corpora are the deterministic split vec_id % holdMod == 0
    * (held-out benchmark slice — the decontaminate benchMod idiom) vs
    * the rest (training corpus). All-pairs across corpora would be
    * |held|·|train|; instead the TRAIN side gets a full IVF build —
    * [[trainedCentroids]] on the train slice, assignment, inverted
    * lists — and each held-out vector probes only its top-NProbe
    * lists: an EQUI-join on list_id, work NProbe/NList of the train
    * corpus per query. Each inverted list is additionally CAPPED at
    * `maxPerList` members by deterministic hash-order thinning
    * (uniform — rank by md5("dcap|"+vec_id) — not nearest-centroid,
    * which would bias retained density toward cluster cores), bounding
    * per-probe work at NProbe·maxPerList cosines REGARDLESS of skew in
    * the list-size distribution; the cap binds at sf0.1 (~107/list
    * average > 64), so the gate exercises the capped path, and the
    * same cap is what a 100 TB build tunes against its list count.
    *
    * Broadcast orientation: the CAPPED INDEX side carries the hint —
    * it is ≤ NList·maxPerList rows BY CONSTRUCTION, scale-invariant —
    * while the probe side (held-out slice × NProbe) grows with the
    * corpus and must stay shuffleable; hinting the probe side would be
    * the textbook broadcast OOM at 100×. At 100 TB the train side is
    * [[writeBucketedByList]]'s bucketed layout, turning every probe
    * into partition pruning at the scan.
    *
    * Output: one row per CONTAMINATED held-out vector — its best
    * training match (min qualifying id), how many capped-list training
    * vectors cleared the threshold, and the best truncated cosine.
    * Engine-exact: the oracle retrains the same k-means on the same
    * slice (exact quantized sums) and replays probe ranking, cap
    * thinning, and scoring with identical tie-breaks. */
  def simDecontam(emb: DataFrame, holdMod: Long = 7L, threshold: Double = 0.4,
      maxPerList: Int = 64): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // split + training + assign + probe passes
    val tr = v.filter(pmod(col("vec_id"), lit(holdMod)) =!= 0)
    val ho = v.filter(pmod(col("vec_id"), lit(holdMod)) === 0)
    val cents = trainedCentroids(tr).localCheckpoint(true) // ≤ NList rows
    val capped = tr.join(assignTo(tr, cents), "vec_id")
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("list_id")).orderBy(
          graft.functions.TextHash.hash60(concat(lit("dcap|"), col("vec_id"))),
          col("vec_id"))))
      .filter(col("crnk") <= maxPerList)
      .select(col("vec_id"), col("e"), col("list_id"))
    val probes = ho.select(col("vec_id").as("q_id"), col("e").as("qe"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qe"), col("cid"),
        trunc4(NativeVector.cosine(col("qe"), col("ce"))).as("qcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cid"))))
      .filter(col("prnk") <= NProbe)
      .select(col("q_id"), col("qe"), col("cid").as("list_id"))
    // build side = the CAPPED INDEX (≤ NList·maxPerList rows); the
    // probe side is corpus-proportional and must never carry the hint
    val scored = broadcast(capped).join(probes, Seq("list_id"))
      .select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
    scored.filter(col("cos") >= threshold)
      .groupBy(col("q_id"))
      .agg(min(col("vec_id")).as("train_match"),
        count(lit(1)).as("n_matches"), max(col("cos")).as("best_cos"))
      .localCheckpoint(true) // contaminated slice ≪ corpus
  }

  /** Embedding-cosine near-dup pairs: LSH band join (no cross join),
    * verified by cosine ≥ threshold. */
  def nearDupPairs(emb: DataFrame, threshold: Double = 0.4): DataFrame = Scope { s =>
    val v = withEmbD(emb)
    // all-pairs self-join ⇒ the WIDE KnnBands×KnnRowsPerBand geometry,
    // same reasoning as [[knnGraph]] (measured 14 s → ~linear at 10×
    // vectors). Recall trade: high-similarity pairs (cos ≥ 0.85, the
    // duplicates that matter at scale) keep ~0.9 recall; mid-range
    // pairs near the 0.4 verification floor surface less often — the
    // floor only filters verified candidates, it is not a recall
    // promise at that similarity.
    val bands = s.persist(v.select(col("vec_id"), col("e"),
        explode(bandStructsWith(col("e"), KnnBands, KnnRowsPerBand)).as("bb"))
      .select(col("vec_id"), col("e"), col("bb.band").as("band"), col("bb.bkey").as("bkey")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        col("x.e").as("ea"), col("y.e").as("eb"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"), trunc4(NativeVector.cosine(col("ea"), col("eb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .localCheckpoint(true) // verified near-dup pairs ≪ corpus
  }

  /** LSH-banded k-nearest-neighbor GRAPH over the whole corpus — the
    * every-vector sibling of [[annTopK]] (whose query side is a fixed
    * broadcast set) and the ranked sibling of [[nearDupPairs]] (whose
    * output is thresholded, not per-node top-k). The kNN graph is the
    * substrate for graph-based corpus curation — SemDeDup-style
    * neighborhood pruning, connected-component near-dup clustering,
    * and diversity sampling all start from "each item's k nearest".
    *
    * Shape: candidates come from the SAME banded self-join as
    * [[nearDupPairs]] — one canonical (a < b) pair per bucket
    * collision, cosine computed ONCE per unordered pair — then each
    * pair is mirrored into both directions and ranked per source with
    * a `rnk <= k` filter, which Spark 4 plans as WindowGroupLimit
    * (per-partition top-k below the shuffle, no full sort). The
    * `mutual` flag (reverse edge also in the reverse node's top-k —
    * the mutual-kNN criterion used to sharpen near-dup clusters)
    * self-joins the k-row-per-node RESULT relation, never the
    * candidate set.
    *
    * Scale: work is O(bucket collisions) like every banded op here;
    * the mirrored relation doubles a candidate set that is already
    * ≪ n²; the top-k shuffle carries (src, dst, cos) triples only.
    * Recall < 1 by construction (bucketing misses some true
    * neighbors); the oracle replicates the same approximation. */
  /** Distinct banded candidate pairs of the kNN chain (ids only, no
    * embedding payloads, no cosine) — [[knnGraph]]'s candidate relation
    * exposed for the scale probes: q_knn_graph's super-linear decade
    * shuffle reading is attributed to candidate growth on the clone
    * generator, and the attribution needs the measured pair count
    * itself (VERDICT r10 directive 2). Same banding expression as
    * [[knnGraph]], so the count is the operator's own candidate volume. */
  private[graft] def knnCandidatePairs(emb: DataFrame): DataFrame = {
    val v = withEmbD(emb)
    val bands = v.select(col("vec_id"),
        explode(bandStructsWith(col("e"), KnnBands, KnnRowsPerBand)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
  }

  /** The banded per-node top-k edge relation (src_id, dst_id, cos,
    * rnk) — [[knnGraph]]'s round-0 graph, shared with [[knnRefine]]'s
    * NN-descent pass. Materialized via localCheckpoint (≤ k·n rows) so
    * the wide intermediates are released before either consumer runs. */
  private[graft] def knnTopK(emb: DataFrame, k: Int): DataFrame = Scope { s =>
    val v = withEmbD(emb)
    // all-pairs self-join ⇒ the WIDE KnnBands×KnnRowsPerBand geometry
    // (see the constant's docstring: 4×4's 16-bucket key space is
    // quadratic in the corpus; 256 buckets/band restores ~linear
    // candidate growth at the measured scale)
    val bands = s.persist(v.select(col("vec_id"), col("e"),
        explode(bandStructsWith(col("e"), KnnBands, KnnRowsPerBand)).as("bb"))
      .select(col("vec_id"), col("e"), col("bb.band").as("band"), col("bb.bkey").as("bkey")))
    // narrow (id, id, cos) triples feed BOTH mirror arms
    val pairs = s.persist(bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        col("x.e").as("ea"), col("y.e").as("eb"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"),
        trunc4(NativeVector.cosine(col("ea"), col("eb"))).as("cos")))
    val directed = pairs
      .select(col("a_id").as("src_id"), col("b_id").as("dst_id"), col("cos"))
      .unionAll(pairs.select(col("b_id").as("src_id"), col("a_id").as("dst_id"), col("cos")))
    val w = Window.partitionBy(col("src_id")).orderBy(col("cos").desc, col("dst_id"))
    directed.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .localCheckpoint(true) // ≤ k·n edge rows, materialized
  }

  def knnGraph(emb: DataFrame, k: Int = 5): DataFrame = {
    val topk = knnTopK(emb, k)
    topk.as("f").join(
        topk.select(col("src_id").as("r_dst"), col("dst_id").as("r_src")).as("r"),
        col("f.src_id") === col("r_src") && col("f.dst_id") === col("r_dst"), "left")
      .select(col("f.src_id").as("src_id"), col("f.dst_id").as("dst_id"),
        col("cos"), col("rnk"), col("r_src").isNotNull.as("mutual"))
  }

  /** One NN-descent refinement round over [[knnTopK]]'s banded round-0
    * graph (Dong, Moses & Li, WWW'11 — the standard distributed
    * kNN-graph construction the IVF/LSH families here feed). The LSH
    * banding trades recall for candidate volume; NN-descent buys the
    * recall back WITHOUT widening the banding: a neighbor of my
    * neighbor is likely my neighbor, so each round scores only the
    * neighbor-of-neighbor closure of the current graph and re-ranks.
    *
    * Shape: the general neighborhood B(u) = N(u) ∪ R̂(u) is each
    * node's own top-k plus its REVERSE edges capped at k by cosine
    * rank — the classic reverse-sample bound (ρ=1 on forward, capped
    * reverse); without the cap a hub sitting in many nodes' top-k
    * would make the closure quadratic in its in-degree. Candidates
    * u–v–w ⇒ (u,w) come from one equi-join of B with itself on the
    * shared middle node (canonical a<b, distinct), so the candidate
    * count is ≤ n·(2k)² by construction — independent of corpus
    * density, unlike the banding's collision count. New pairs are
    * scored exactly (same truncated-cosine kernel), unioned with the
    * round-0 edges, and re-ranked per source (WindowGroupLimit top-k
    * below the shuffle). `added` marks edges the banding missed —
    * the measured recall the round bought.
    *
    * Scale: every relation is O(n·k) or O(n·k²) narrow id/cos rows;
    * the only embedding-payload joins are the two id-equi-joins that
    * fetch vectors for NEW candidates. No all-pairs anywhere; the
    * closure join's middle-node key has degree ≤ 2k on BOTH sides
    * (capped above), so no skew. Further rounds would iterate the same
    * step on the refined graph with a convergence test on |added|. */
  def knnRefine(emb: DataFrame, k: Int = 5): DataFrame = {
    val v = withEmbD(emb)
    val base = knnTopK(emb, k) // round-0 edges, ≤ k·n rows, materialized
    val rev = base.select(col("dst_id").as("u"), col("src_id").as("nb"), col("cos"))
    val wR = Window.partitionBy(col("u")).orderBy(col("cos").desc, col("nb"))
    val revCapped = rev.withColumn("rr", row_number().over(wR))
      .filter(col("rr") <= k).drop("rr")
    val und = base.select(col("src_id").as("u"), col("dst_id").as("nb"), col("cos"))
      .unionAll(revCapped)
      .dropDuplicates("u", "nb") // ≤ 2k rows per node; dup rows carry the same pair-level cos
    val cand = und.as("l").join(und.as("r"), col("l.nb") === col("r.u"))
      .filter(col("l.u") < col("r.nb"))
      .select(col("l.u").as("a_id"), col("r.nb").as("b_id"))
      .distinct() // ≤ n·(2k)² canonical neighbor-of-neighbor pairs
    val scored = cand
      .join(v.select(col("vec_id").as("a_id"), col("e").as("ea")), Seq("a_id"))
      .join(v.select(col("vec_id").as("b_id"), col("e").as("eb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        trunc4(NativeVector.cosine(col("ea"), col("eb"))).as("cos"))
    val dir = scored
      .select(col("a_id").as("src_id"), col("b_id").as("dst_id"), col("cos"))
      .unionAll(scored.select(col("b_id").as("src_id"), col("a_id").as("dst_id"), col("cos")))
      .unionAll(base.select(col("src_id"), col("dst_id"), col("cos")))
      .dropDuplicates("src_id", "dst_id") // same pair ⇒ bit-identical cos either arm
    val w = Window.partitionBy(col("src_id")).orderBy(col("cos").desc, col("dst_id"))
    val refined = dir.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
    refined.as("f").join(
        base.select(col("src_id").as("b_src"), col("dst_id").as("b_dst")).as("b"),
        col("f.src_id") === col("b_src") && col("f.dst_id") === col("b_dst"), "left")
      .select(col("f.src_id").as("src_id"), col("f.dst_id").as("dst_id"),
        col("cos"), col("rnk"), col("b_src").isNull.as("added"))
  }

  /** Per-label centroid-distance outliers — the label-conditioned
    * mislabel/contamination screen next to [[vectorDq]]'s corpus-level
    * audit: the `topJ` vectors farthest from their own label's
    * centroid are the ones to eyeball (wrong label, encoder glitch, or
    * genuine tail). Everything ranks on EXACT integers: dims quantize
    * to int8 under one global scale (the [[vectorDq]] discipline), the
    * centroid is the per-(label, dim) BIGINT sum sv with count n, and
    * each vector's distance is compared via d²·n² = Σ_d (qx·n − sv)² —
    * integer algebra that avoids dividing the centroid. The squared
    * terms form and sum in DECIMAL(38,0); d²·n² reports as BIGINT,
    * whose headroom (|qx·n − sv| ≤ 254·n) ends at n ≈ 1.5e6 per label
    * for a worst-case 64-dim sum — an error rather than a wrap beyond.
    *
    * Scale: one posexplode pass (n·dims narrow rows), the
    * labels×dims centroid relation broadcasts, and the per-vector
    * rollup reuses the spread vec_id partitioning. The top-j window is
    * per label, never global. */
  def vecOutliers(emb: DataFrame, topJ: Int = 5): DataFrame = Scope { s =>
    val v = graft.functions.Portable.spread(emb, col("vec_id"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").as("e"))
    val gs = v.agg((max(aggregate(col("e"), lit(0.0),
      (a, x) => greatest(a, abs(x)))) / 127.0).as("gs"))
    // feeds the centroid sums AND the deviation join
    val q = s.persist(v.crossJoin(broadcast(gs))
      .select(col("vec_id"), col("label"), col("gs"),
        posexplode(col("e")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("d"),
        when(col("gs") > 0,
          greatest(lit(-127L), least(lit(127L),
            floor(col("col") / col("gs") + 0.5).cast("long"))))
          .otherwise(0L).as("qx")))
    val cent = q.groupBy(col("label"), col("d"))
      .agg(sum(col("qx")).as("sv"), count(lit(1)).as("n"))
    val dev = q.join(broadcast(cent), Seq("label", "d"))
      .select(col("vec_id"), col("label"), col("n"),
        ((col("qx") * col("n") - col("sv")).cast("decimal(38,0)") *
          (col("qx") * col("n") - col("sv"))).as("t2"))
    val perVec = dev.groupBy(col("vec_id"), col("label"))
      .agg(sum(col("t2")).cast("long").as("d2n2"), max(col("n")).as("n"))
    val w = Window.partitionBy(col("label")).orderBy(col("d2n2").desc, col("vec_id"))
    perVec
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topJ)
      .select(col("label"), col("vec_id"), col("d2n2"), col("n"),
        trunc4(sqrt(col("d2n2").cast("double")) / col("n")).as("dist_q"), col("rnk"))
      .localCheckpoint(true) // topJ rows per label; releases the dim cache
  }

  /** kNN label-noise detection (the confident-learning screen of
    * Northcutt et al. 2021, reduced to its kNN-agreement core): a
    * vector whose approximate k nearest neighbors vote for a DIFFERENT
    * label than its own is a mislabel candidate. Rides the exact
    * [[knnGraph]] chain (banded LSH candidates → per-source top-k), so
    * candidate generation is never all-pairs and the oracle replays
    * the identical approximation; the vote is an integer count with
    * deterministic tie-break (higher votes, then smaller label).
    *
    * Scale: the graph is ≤ k rows per vector; the label join is a
    * narrow (id, label) equi-join (unhinted — labels grow with the
    * corpus, AQE broadcasts while it fits); votes/majority/k_eff all
    * aggregate per source inside one partitioning. */
  def labelNoise(emb: DataFrame, k: Int = 5): DataFrame = {
    val g = knnGraph(emb, k) // checkpointed: ≤ k rows per node
    val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = g
      .join(lbl.select(col("vec_id").as("dst_id"), col("label").as("dst_label")), "dst_id")
      .groupBy(col("src_id"), col("dst_label")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("src_id")).orderBy(col("votes").desc, col("dst_label"))
    val pred = votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("src_id"), col("dst_label").as("pred_label"), col("votes"))
    val keff = g.groupBy(col("src_id")).agg(count(lit(1)).as("k_eff"))
    pred.join(keff, "src_id")
      .join(lbl.select(col("vec_id").as("src_id"), col("label")), "src_id")
      .filter(col("label") =!= col("pred_label"))
      .select(col("src_id").as("vec_id"), col("label"), col("pred_label"),
        col("votes"), col("k_eff"), trunc4(col("votes") / col("k_eff")).as("vote_share"))
  }

  /** Calibration / reliability audit of a similarity score used as a
    * classifier — the eval-pipeline staple: score every vector by
    * cosine to the vec_id-0 reference, treat p = (cos+1)/2 as the
    * predicted probability that the vector shares vec 0's label, and
    * report per-confidence-bin the predicted-vs-observed gap plus
    * each bin's ECE contribution (expected calibration error = the
    * n-weighted sum of gaps a reader totals).
    *
    * Order-independence: the per-bin mean confidence comes from
    * Σ floor(cos·10⁴) — an EXACT integer sum — never from summing
    * doubles across rows; positives and counts are integers; the
    * final per-bin expressions are identical IEEE scalar math in both
    * engines. Bin edges land on exact multiples of 0.2 of the trunc4
    * score, so bin membership cannot float either. One broadcast of
    * the reference vector, one scan, one ≤10-cell hash-agg. */
  def calibration(emb: DataFrame, refId: Long = 0L, bins: Int = 10): DataFrame = {
    val v = withEmbD(emb)
    val q = withEmbD(emb).filter(col("vec_id") === refId)
      .join(emb.select(col("vec_id"), col("label").as("ref_label")), "vec_id")
      .select(col("e").as("qe"), col("ref_label"))
    val scored = v.join(emb.select(col("vec_id"), col("label")), "vec_id")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= refId)
      .select(col("vec_id"),
        trunc4(NativeVector.cosine(col("e"), col("qe"))).as("s"),
        (col("label") === col("ref_label")).cast("long").as("pos"))
      .withColumn("si", floor(col("s") * 10000).cast("long"))
      .withColumn("bin", least(floor((col("s") + 1) * (bins / 2)).cast("long"),
        lit(bins - 1L)))
    val total = scored.agg(count(lit(1)).as("n_total"))
    scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("si")).as("ssi"), sum(col("pos")).as("n_pos"))
      .crossJoin(broadcast(total))
      .withColumn("conf", (col("ssi").cast("double") / col("n") / 10000 + 1) / 2)
      .withColumn("pos_rate", col("n_pos").cast("double") / col("n"))
      .select(col("bin"), col("n"), col("n_pos"),
        trunc4(col("conf")).as("conf"), trunc4(col("pos_rate")).as("pos_rate"),
        trunc4(abs(col("pos_rate") - col("conf"))).as("gap"),
        graft.functions.Portable.trunc6(
          abs(col("pos_rate") - col("conf")) * col("n") / col("n_total")).as("ece_term"))
  }

  /** Int8 symmetric quantization audit — the 4 bytes/dim → 1 byte/dim
    * storage step a vector pipeline takes before building the index at
    * scale: per-vector scale = maxabs/127, q_d = clamp(floor(e_d /
    * scale)), plus the error metrics that decide whether int8 is safe
    * (max reconstruction error, dims collapsed to zero). Relational
    * explode → window maxabs → one hash-agg; every aggregate is
    * ORDER-INDEPENDENT (max / integer count), so the audit is
    * engine-exact with no quantized-sum tricks needed.
    *
    * Rounding is to-NEAREST via `floor(x/scale + 0.5)` — what a real
    * int8 quantizer does (error ≤ scale/2, symmetric zero bucket);
    * plain floor would double the reported error and never count
    * negative near-zeros as collapsed. The +0.5-floor form is
    * engine-portable (no round-half-tie divergence: both engines
    * compute the identical double then floor it). */
  def quantizeAudit(emb: DataFrame): DataFrame = {
    val dims = withEmbD(emb).select(col("vec_id"), explode(col("e")).as("x"))
    val w = Window.partitionBy(col("vec_id"))
    val scaled = dims.withColumn("scale", max(abs(col("x"))).over(w) / 127.0)
    val q = greatest(lit(-127L), least(lit(127L), floor(col("x") / col("scale") + 0.5)))
    scaled
      .withColumn("q", when(col("scale") > 0, q).otherwise(lit(0L)))
      .withColumn("err",
        when(col("scale") > 0, abs(col("x") - col("q") * col("scale"))).otherwise(lit(0.0)))
      .groupBy(col("vec_id"))
      .agg(
        graft.functions.Portable.trunc6(max(col("scale"))).as("scale"),
        graft.functions.Portable.trunc6(max(col("err"))).as("max_err"),
        sum(when(col("q") === 0, 1L).otherwise(0L)).as("n_zero"))
  }

  /** Product-quantization geometry: 64 dims → PqM subspaces of PqSub
    * dims, PqKs codewords each (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011). One Lloyd iteration per
    * subspace keeps the oracle chain bounded; codebook quality improves
    * with iterations, the pipeline shape doesn't change. */
  val PqM = 4
  val PqSub = Dim / PqM
  val PqKs = 8
  val PqIters = 1

  /** PQ encode: each vector's code is PqM small integers — the
    * per-subspace argmax-cosine codeword (spherical k-means, the same
    * assignment geometry as [[ivfTopK]]'s coarse quantizer). This is
    * the storage path beyond [[quantizeAudit]]'s int8: 64 floats
    * compress to PqM·log2(PqKs) = 12 bits, the layout ADC-style ANN
    * re-ranking reads at 100 TB.
    *
    * Each subspace trains on the SAME deterministic [[kmSample]] with
    * exact quantized sums, so the oracle retrains bit-identical
    * codebooks (the [[trainedCentroids]] argument, per subspace);
    * `sub_cos` (vector-to-codeword cosine, trunc4) is the per-subspace
    * reconstruction audit.
    *
    * Scale: training aggregates the 1-in-4 sample; encoding is one
    * broadcast of PqM·PqKs codewords and a map-side-combined max_by per
    * (vector, subspace) — the shuffle carries one (id, code) pair,
    * never the embedding. */
  /** Subspace m's slice of the vector relation. */
  private def pqSlice(v: DataFrame, m: Int): DataFrame =
    v.select(col("vec_id"), slice(col("e"), m * PqSub + 1, PqSub).as("e"))

  /** Trained codebook for subspace m — PqKs rows, checkpointed eagerly
    * so every consumer broadcasts the result instead of re-running the
    * Lloyd steps. */
  private def pqCodebook(v: DataFrame, m: Int): DataFrame = {
    val vm = pqSlice(v, m)
    val sample = kmSample(vm)
    var cents = seedCentroids(vm, PqKs)
    for (_ <- 0 until PqIters) cents = centroidStep(sample, cents, PqSub)
    cents.localCheckpoint(true)
  }

  /** All PqM codebooks, trained CONCURRENTLY: the subspaces are
    * independent, but each training chain is a sequence of small eager
    * jobs (seed → Lloyd step → checkpoint), so running them back to
    * back makes the PQ build stage-LATENCY-bound — wall time barely
    * moves between sf0.001 and sf0.1 (measured ~7 s both). Submitting
    * the four chains from separate threads lets the scheduler overlap
    * their stages (standard concurrent-jobs practice on a shared
    * SparkSession); results are per-subspace checkpoints, so
    * determinism is untouched. */
  private def pqCodebooks(v: DataFrame): IndexedSeq[DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (0 until PqM).map(m => Future(pqCodebook(v, m)))
    fs.map(Await.result(_, Duration.Inf))
  }

  def pqEncode(emb: DataFrame): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // PqM training + encode passes
    val cbs = pqCodebooks(v)
    val parts = (0 until PqM).map { m =>
      val vm = pqSlice(v, m)
      val c = cbs(m)
      vm.crossJoin(broadcast(c))
        .select(col("vec_id"), col("cid"),
          trunc4(NativeVector.cosine(col("e"), col("ce"))).as("ccos"))
        .groupBy(col("vec_id"))
        // winner maximizes ccos (ties to the smaller cid), so max(ccos)
        // IS the winner's cosine
        .agg(expr("max_by(cid, struct(ccos, -cid))").cast("long").as("code"),
          max(col("ccos")).as("sub_cos"))
        .withColumn("m", lit(m.toLong))
    }
    parts.reduce(_ unionByName _)
      .select(col("vec_id"), col("m"), col("code"), col("sub_cos"))
      .localCheckpoint(true)
  }

  /** ADC (asymmetric distance computation) top-k over the PQ codes —
    * the search half of [[pqEncode]]: each query scores the whole
    * corpus as Σ_m dot(q_m, codeword(code_m)) without ever touching a
    * stored vector. That is the point at 100 TB: the scan reads 12-bit
    * codes (~50× narrower than the floats), the per-query work is a
    * PqM·PqKs lookup table built from ONE broadcast of the codebooks.
    *
    * Determinism: each partial dot is floored to a 2^20-scaled BIGINT
    * before the per-(query, vector) sum, so the ADC score is an exact
    * integer under any partial-agg merge order (same rule as the PSI
    * terms); ties rank to the smaller vec_id. `adot` is the
    * reconstructed approximate dot product for human eyes. */
  def adcTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // PqM training + code + lut passes
    val cbs = pqCodebooks(v)
    val parts = (0 until PqM).map { m =>
      val vm = pqSlice(v, m)
      val c = cbs(m)
      val codes = vm.crossJoin(broadcast(c))
        .select(col("vec_id"), col("cid"),
          trunc4(NativeVector.cosine(col("e"), col("ce"))).as("ccos"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cid, struct(ccos, -cid))").cast("long").as("code"))
      val lut = vm.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("e").as("qe"))
        .crossJoin(broadcast(c))
        .select(col("q_id"), col("cid").cast("long").as("code"),
          floor(NativeVector.dot(col("qe"), col("ce")) * QScale).cast("long").as("pdot"))
      codes.join(broadcast(lut), "code")
        .select(col("q_id"), col("vec_id"), col("pdot"))
    }
    val scored = parts.reduce(_ unionByName _)
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("dot_scaled"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("dot_scaled").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("dot_scaled"),
        trunc4(col("dot_scaled") / QScale).as("adot"), col("rnk"))
      .localCheckpoint(true) // k rows per query
  }

  /** IVF-PQ with exact refine — the composition every production ANN
    * deployment actually runs (Faiss `IVFxx,PQyy` + `refine`): the
    * coarse quantizer prunes WHICH vectors are scored ([[ivfTopK]]'s
    * probe: an equi-join on the top-NProbe list_ids), PQ/ADC prunes
    * WHAT is read to score them ([[adcTopK]]'s code+LUT lookup — the
    * scan touches codes, never floats), and a final exact pass
    * re-ranks only the `rerank` best ADC candidates per query against
    * their true float vectors. Output rows carry both scores so the
    * row answers "what did the compressed index think" (`dot_scaled`)
    * and "what is actually true" (`cos`).
    *
    * Scale: this is the 100 TB search shape — corpus floats are read
    * for exactly |Q|·rerank rows (the refine join), everything else
    * moves (vec_id, list_id) pairs and 2-bit-per-dim codes; probes and
    * LUTs are broadcast (|Q|·NProbe and |Q|·PqKs rows). Determinism:
    * ADC scores are exact 2^20-scaled BIGINT sums, the refine cosine
    * is trunc4, all ties break to the smaller vec_id. */
  def ivfAdcTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10,
      rerank: Int = 40): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb)) // coarse + PQ training, encode, refine
    val cents = trainedCentroids(v).localCheckpoint(true)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"),
        trunc4(NativeVector.cosine(col("qe"), col("ce"))).as("qcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cid"))))
      .filter(col("prnk") <= NProbe)
      .select(col("q_id"), col("cid").as("list_id"))
      .localCheckpoint(true) // |Q|·NProbe rows
    // candidate set = union of the probed inverted lists, built once and
    // shared by all PqM subspace scorers
    val cand = s.persist(assignTo(v, cents).join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")))
    val cbs = pqCodebooks(v)
    val parts = (0 until PqM).map { m =>
      val vm = pqSlice(v, m)
      val c = cbs(m)
      val codes = vm.crossJoin(broadcast(c))
        .select(col("vec_id"), col("cid"),
          trunc4(NativeVector.cosine(col("e"), col("ce"))).as("ccos"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cid, struct(ccos, -cid))").cast("long").as("code"))
      val lut = vm.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("e").as("qe"))
        .crossJoin(broadcast(c))
        .select(col("q_id"), col("cid").cast("long").as("code"),
          floor(NativeVector.dot(col("qe"), col("ce")) * QScale).cast("long").as("pdot"))
      cand.join(codes, "vec_id").join(broadcast(lut), Seq("q_id", "code"))
        .select(col("q_id"), col("vec_id"), col("pdot"))
    }
    val adc = parts.reduce(_ unionByName _)
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("dot_scaled"))
      .withColumn("arnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("dot_scaled").desc, col("vec_id"))))
      .filter(col("arnk") <= rerank)
    adc.join(v, "vec_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"), col("dot_scaled"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .localCheckpoint(true) // k rows per query
  }

  /** Scalar-quantized (int8) top-k: search over per-vector int8 codes
    * instead of float32 embeddings — the 4×-narrower-scan compression
    * path NEXT to PQ's 50× one ([[adcTopK]]): SQ keeps per-dimension
    * resolution (better recall), PQ compresses harder. Quantization is
    * the [[quantizeAudit]] discipline (per-vector symmetric scale
    * max|x|/127, round-half-up, clamp); the search is EXACT integer
    * arithmetic over the codes: dotq = Σ qx·qy and the squared norms
    * are BIGINT sums (≤ 64·127² per term — no overflow, no float merge
    * order), and the quantized cosine divides dotq by √(n2·qn2) — the
    * per-vector scales cancel. One sqrt + one division of exact
    * integers ⇒ bit-identical across engines.
    *
    * Scale: codes are computed in one codegen'd projection (transform/
    * aggregate HOFs — no explode, the shuffle never carries the float
    * embedding); queries broadcast; scoring is a single pass over the
    * code relation. At 100 TB the code table is the thing that gets
    * bucketed/scanned, 16 bytes/row + codes vs 256 bytes of float32. */
  /** Binary sign-quantized top-k — the 1-bit-per-dim end of the
    * quantization menagerie ([[sq8TopK]] 8 bits, [[pqChain]]/ADC ~?
    * bits, this 1): each vector packs to ONE 64-bit word (sign bit per
    * dimension), candidates rank by Hamming distance
    * bit_count(w XOR q) — the XOR+popcount kernel every binary-code
    * index (ITQ, sign-random-projection) runs, 512× smaller than the
    * float vectors and register-resident at scan time. The cosine of
    * the ORIGINAL vectors rides along as the measurement column, so
    * the row answers both "what did the binary index choose" and "how
    * good was it really".
    *
    * Exactness: the packed word is an exact BIGINT (sum of distinct
    * powers of two ≡ OR); Hamming is integer; ranks break ties by
    * (hamming, vec_id). The sign rule is e_i > 0 — zeros land with the
    * negatives in both engines.
    *
    * Scale: one scan packs; queries broadcast; the rank is per-query
    * over candidates. At 10⁹ vectors the packed relation is 8 GB —
    * the point of the operator. */
  def binTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val packed = withEmbD(emb).select(col("vec_id"), col("e"),
      expr("aggregate(zip_with(e, sequence(0, size(e) - 1), " +
        "(x, i) -> if(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, w) -> a + w)").as("w"))
    val q = packed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("w").as("qw"))
    val scored = packed.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("cast(bit_count(w ^ qw) as long)").as("hamming"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("hamming"), col("cos"), col("rnk"))
  }

  def sq8TopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val scale = (aggregate(col("e"), lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / 127.0).as("scale")
    val codes = withEmbD(emb).select(col("vec_id"), col("e"), scale)
      .select(col("vec_id"),
        transform(col("e"), x =>
          when(col("scale") > 0,
            greatest(lit(-127L), least(lit(127L),
              floor(x / col("scale") + 0.5).cast("long"))))
            .otherwise(0L)).as("q"))
      .withColumn("n2", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
    val qs = codes.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = codes.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("n2"), col("qn2"),
        aggregate(zip_with(col("q"), col("qq"), (a, b) => a * b),
          lit(0L), (a, x) => a + x).as("dotq"))
      .select(col("q_id"), col("vec_id"), col("dotq"),
        when(col("n2") > 0 && col("qn2") > 0,
          trunc4(col("dotq") / sqrt((col("n2") * col("qn2")).cast("double"))))
          .as("cos"))
    topKByCos(scored, k).select(col("q_id"), col("vec_id"), col("dotq"),
      col("cos"), col("rnk"))
  }

  /** Plane index for RP-tree `(tree, level)` — past the kNN chain's
    * 64 so the tree geometry shares no plane with any banding op. */
  private def rptPlane(tree: Int, level: Int): Int =
    KnnBands * KnnRowsPerBand + tree * RptDepth + level

  /** Leaf assignment of every vector in `RptTrees` random-projection
    * trees: at each level, project onto the level's deterministic
    * hyperplane and split at the SAMPLED median projection — the
    * standard RP-tree construction (Dasgupta & Freund, STOC'08), whose
    * selling point over IVF lists and LSH buckets is BALANCE: median
    * splits halve every node, so no leaf degenerates into a scan-
    * everything bucket (q_ivf_stats exists precisely because k-means
    * lists skew; tree leaves can't, which the spec pins).
    *
    * Scale shape per level: one codegen'd projection pass, a
    * threshold relation computed from the ~n/[[RptSampleMod]] sample
    * (the ONLY windowed sort, bounded by the sample — production
    * sizes the mod so the sample is ~thousands of rows per tree), and
    * one broadcast join applying ≤ 2^level thresholds. No corpus-wide
    * sort, no shuffle of the vectors themselves — the embeddings are
    * touched `RptTrees`·`RptDepth` times, all map-side. Ties at the
    * threshold break on (projection, vec_id) lexicographically, so
    * assignment is exact in both engines (the same double-ordering
    * contract the sign-band oracles already rely on); an empty sample
    * node routes everything left — deterministic, and only reachable
    * at toy scale. */
  private[graft] def rpTreeLeaves(emb: DataFrame): DataFrame =
    rpTreeLeavesOn(withEmbD(emb))

  /** [[rpTreeLeaves]] over an already-projected vector relation — each
    * tree is a separate pass over `v`, so a caller holding a persisted
    * `v` (recallAtK shares one across all four ANN methods) saves
    * [[RptTrees]] re-derivations of the projection + spread. */
  private[graft] def rpTreeLeavesOn(v: DataFrame): DataFrame =
    (0 until RptTrees).map { t =>
      var cur = v.withColumn("pfx", lit(0L))
      for (level <- 0 until RptDepth) {
        val projd = cur.withColumn("proj",
          NativeVector.dot(col("e"), planeLit(rptPlane(t, level))))
        val samp = projd.filter(pmod(graft.functions.TextHash.hash60(
          concat(lit("rpt|"), col("vec_id").cast("string"))), lit(RptSampleMod)) === 0)
        val byProj = Window.partitionBy(col("pfx"))
          .orderBy(col("proj"), col("vec_id"))
        val th = samp
          .withColumn("rn", row_number().over(byProj))
          .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("pfx"))))
          .filter(col("rn") * 2 === col("ns") + pmod(col("ns"), lit(2))) // rn = ceil(ns/2)
          .select(col("pfx"), col("proj").as("tp"), col("vec_id").as("tv"))
        cur = projd.join(broadcast(th), Seq("pfx"), "left")
          .withColumn("b",
            when(col("tp").isNull, lit(0L))
              .when(col("proj") > col("tp") ||
                (col("proj") === col("tp") && col("vec_id") > col("tv")), lit(1L))
              .otherwise(lit(0L)))
          .select(col("vec_id"), col("e"), (col("pfx") * 2 + col("b")).as("pfx"))
      }
      cur.select(col("vec_id"), lit(t.toLong).as("tree"), col("pfx").as("leaf"))
    }.reduce(_ unionByName _)

  /** RP-tree ANN top-k: candidates are the vectors sharing a leaf with
    * the query in ANY of the [[RptTrees]] trees, exact-cosine-refined
    * and ranked by the shared [[topKByCos]] tail. The third candidate-
    * generation geometry next to LSH bands (hash buckets — unbalanced)
    * and IVF lists (k-means cells — skewed): per-query candidate work
    * is ≤ trees · max-leaf ≈ trees · n/2^depth BY CONSTRUCTION, a
    * bound neither of the others can promise. Probe is an equi-join on
    * (tree, leaf) with the ≤ |queries|·trees-row query side broadcast
    * — build on the capped side, never the corpus (the IVF orientation
    * pin applies here too). */
  def rptTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame =
    rptTopKOn(withEmbD(emb), queryIds, k)

  /** [[rptTopK]] over an already-projected vector relation (shared by
    * [[recallAtK]], which reuses one persisted `v` across all methods —
    * the tree build alone is [[RptTrees]] passes over it). */
  private def rptTopKOn(v: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val leaves = rpTreeLeavesOn(v)
      .localCheckpoint(true) // consumed by both probe sides; ≤ trees·n id rows
    val q = leaves.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("tree"), col("leaf"))
    val candIds = leaves.join(broadcast(q), Seq("tree", "leaf"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val qe = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    topKByCos(candIds.join(v, "vec_id").join(broadcast(qe), "q_id")
      .select(col("q_id"), col("vec_id"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos")), k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk"))
  }

  /** Label-centroid similarity matrix: pairwise cosine between the
    * per-label embedding centroids — the distribution-drift / class-
    * separation readout an embedding pipeline monitors (labels close
    * in centroid space are confusable; a centroid that moves between
    * snapshots signals drift). Float means are merge-order hazards, so
    * vectors quantize under ONE GLOBAL symmetric scale (unlike
    * [[sq8TopK]]'s per-vector scales, which would make sums
    * incomparable) and the centroids are exact per-(label, dim)
    * BIGINT sums; the scale cancels in the cosine, whose norm product
    * multiplies two sqrt's (not the 2⁶³-overflowing product of the
    * squared norms).
    *
    * Scale: the per-dim explode shuffles (label, dim, partial sum)
    * with map-side combine — |labels|·dims rows, never a vector; the
    * pair join runs on that tiny relation. */
  def vecDrift(emb: DataFrame): DataFrame = Scope { sc =>
    val v = graft.functions.Portable.spread(emb, col("vec_id"))
      .select(col("label"), col("embedding").as("e"))
    val gs = v.agg((max(aggregate(col("e"), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))) / 127.0).as("gs"))
    val codes = v.crossJoin(broadcast(gs))
      .select(col("label"), col("gs"), posexplode(col("e")).as(Seq("i", "x")))
      .select(col("label"), col("i"),
        when(col("gs") > 0, greatest(lit(-127L), least(lit(127L),
          floor(col("x") / col("gs") + 0.5).cast("long")))).otherwise(0L).as("qv"))
    val s = sc.persist(codes.groupBy(col("label"), col("i"))
      .agg(sum(col("qv")).as("s")))
    val n2 = s.groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(38,0)") * col("s")).as("n2"))
    val cnt = v.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val dots = s.as("a").join(s.as("b"),
        col("a.i") === col("b.i") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.s").cast("decimal(38,0)") * col("b.s")).as("dot"))
    dots
      .join(broadcast(n2.select(col("label").as("label_a"), col("n2").as("na2"))), "label_a")
      .join(broadcast(n2.select(col("label").as("label_b"), col("n2").as("nb2"))), "label_b")
      .join(broadcast(cnt.select(col("label").as("label_a"), col("n").as("n_a"))), "label_a")
      .join(broadcast(cnt.select(col("label").as("label_b"), col("n").as("n_b"))), "label_b")
      .select(col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"), col("n_a"), col("n_b"),
        trunc4(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("cos"))
      .localCheckpoint(true) // |labels|²/2 rows
  }

  /** Embedding data-quality audit — the pre-flight before any vector
    * work (index build, dedup, drift): per label, the vector count,
    * the dimension range (min ≠ max exposes ragged inputs that would
    * break every dot product downstream), the all-zero-vector count
    * (zero vectors have no direction — cosine against them is
    * undefined and an upstream encoder bug), and the quantized
    * squared-norm range/total (collapsed or exploding norms flag a
    * mis-scaled encoder).
    *
    * Merge-order-exact by the [[vecDrift]] trick: dims quantize under
    * ONE global symmetric scale and each vector's squared norm is an
    * exact BIGINT, so min/max/sum commute. Everything per-vector is a
    * higher-order fold inside the scan projection — no explode, no
    * per-dim shuffle; the only exchange is the tiny label rollup. */
  def vectorDq(emb: DataFrame): DataFrame = {
    val v = graft.functions.Portable.spread(emb, col("vec_id"))
      .select(col("label"), col("embedding").as("e"))
    val gs = v.agg((max(aggregate(col("e"), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))) / 127.0).as("gs"))
    val qv = (x: Column) => greatest(lit(-127L), least(lit(127L),
      floor(x / col("gs") + 0.5).cast("long")))
    val per = v.crossJoin(broadcast(gs))
      .select(col("label"),
        size(col("e")).cast("long").as("dims"),
        // NULL (not true) for a zero-LENGTH vector, matching the
        // oracle's list_max(empty) = NULL; empties still surface via
        // min_dims = 0
        when(size(col("e")) > 0,
          aggregate(col("e"), lit(0.0),
            (acc, x) => greatest(acc, abs(x))) === 0.0).as("is_zero"),
        // same guard for qn2: the oracle's list_sum over an EMPTY list
        // is NULL (inside CASE WHEN gs > 0), where a bare fold would
        // return its 0L init — mirror both arms so an empty vector
        // yields NULL (gs > 0) / 0 (degenerate gs), never a silent 0
        when(col("gs") > 0,
          when(size(col("e")) > 0,
            aggregate(col("e"), lit(0L), (acc, x) => acc + qv(x) * qv(x))))
          .otherwise(0L).as("qn2"))
    per.groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dims")).as("min_dims"), max(col("dims")).as("max_dims"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero_vecs"),
        min(col("qn2")).as("min_qn2"), max(col("qn2")).as("max_qn2"),
        sum(col("qn2")).as("sum_qn2"))
  }

  /** Deterministic ±1 sign for [[vecProject]]'s projection matrix
    * (Achlioptas-style sparse random projection): parity of the
    * portable 60-bit md5 hash of "proj|i_j" — any engine reproduces it
    * from the same formula (the oracle computes the identical
    * expression in SQL; no engine-private RNG). */
  private[graft] def projSign(i: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"proj|${i}_$j".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Random-projection dimensionality reduction: project each
    * `inDims`-dim embedding onto `outDims` ±1 directions (the
    * Johnson–Lindenstrauss step a pipeline runs before indexing when
    * the raw dimension is too wide to store/scan). The sign matrix is
    * a TINY LITERAL baked into the plan at build time (sign lookup is
    * a codegen'd nested-array index, no per-row hashing), derived from
    * the portable md5 parity so the oracle regenerates it in SQL.
    *
    * Scale shape: posexplode → 8-way dim explode → map-side-combined
    * hash-agg, so the shuffle carries `outDims` partial sums per
    * vector, never the embedding; at 100 TB this is the same
    * narrow-shuffle profile as the MinHash signature pipeline.
    *
    * `inDims` must equal the data's embedding dimension: a WIDER
    * embedding fails fast with Spark's ANSI INVALID_ARRAY_INDEX on the
    * sign lookup (never a silent truncation that would diverge from
    * the oracle's md5-derived matrix); a narrower one uses the sign
    * rows matching its actual length, same as the oracle. */
  def vecProject(emb: DataFrame, inDims: Int = 64, outDims: Int = 8): DataFrame = {
    val signs = typedLit(
      (0 until inDims).map(i => (0 until outDims).map(j => projSign(i, j))))
    withEmbD(emb)
      .select(col("vec_id"), posexplode(col("e")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), col("x").cast("double").as("x"),
        explode(array((0 until outDims).map(lit): _*)).as("j"))
      .withColumn("w", element_at(element_at(signs, col("i") + 1), col("j") + 1))
      .groupBy(col("vec_id"), col("j").cast("long").as("j"))
      .agg(trunc4(sum(col("x") * col("w"))).as("p"))
  }

  /** recall@k of each approximate path against the exact baseline: the
    * number an operator tunes nlist/nprobe/bands against. One row per
    * (method, query): |approx top-k ∩ exact top-k| / k. Deterministic
    * (both inputs are) and fully oracle-able.
    *
    * FUSED evaluation: one persisted vector relation serves every
    * method; the two LSH variants share one banded relation and ONE
    * cosine pass — multi-probe candidates are a superset of
    * single-probe's, so candidates are scored once with an `orig` flag
    * (came from an unflipped band key) and the single-probe ranking is
    * just a filter. Same results as running each method standalone,
    * at roughly half the work. */
  def recallAtK(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb))
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    def rankK(scored: DataFrame): DataFrame =
      topKByCos(scored, k).select(col("q_id"), col("vec_id"))
    val exact = rankK(v.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos")))
      .localCheckpoint(true) // consumed by every method join
    // one banded relation, query keys expanded with their bit-flip
    // variants, each tagged whether it is the original key
    val bands = s.persist(v.select(col("vec_id"), col("e"), explode(bandStructs(col("e"))).as("bb"))
      .select(col("vec_id"), col("e"), col("bb.band").as("band"), col("bb.bkey").as("bkey")))
    val variantStructs = struct(col("bkey").as("bkey"), lit(true).as("orig")) +:
      (0 until RowsPerBand).map(i =>
        struct(col("bkey").bitwiseXOR(lit(1 << i)).as("bkey"), lit(false).as("orig")))
    val qbv = bands.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("band"),
        explode(array(variantStructs: _*)).as("bb"))
      .select(col("q_id"), col("qe"), col("band"),
        col("bb.bkey").as("bkey"), col("bb.orig").as("orig"))
    val scoredLsh = s.persist(bands.join(broadcast(qbv), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("orig")).as("sp"), first(col("qe")).as("qe"), first(col("e")).as("e"))
      .select(col("q_id"), col("vec_id"), col("sp"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos")))
    // r12 fusions (guide §2.4 — operations keyed the same way share one
    // exchange): the two LSH rankings were two window passes over the
    // same persisted cosine relation (single-probe = the sp slice), now
    // ONE method-tagged rank; and the four per-method hit joins +
    // recall aggregates were four join+agg subtrees over the same exact
    // baseline, now ONE tagged join + ONE (method, q_id) aggregate.
    // Row-identical: membership per (method, q_id, vec_id) is unchanged
    // and each method's rank order never crosses the method tag.
    val wM = Window.partitionBy(col("method"), col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val lshTop = scoredLsh.filter(col("sp")).withColumn("method", lit("ann"))
      .unionByName(scoredLsh.withColumn("method", lit("ann_mp")))
      .withColumn("rnk", row_number().over(wM)).filter(col("rnk") <= k)
      .select(col("method"), col("q_id"), col("vec_id"))
    val approxAll = lshTop
      .unionByName(ivfTopKOn(v, queryIds, k)
        .select(lit("ivf").as("method"), col("q_id"), col("vec_id")))
      .unionByName(rptTopKOn(v, queryIds, k)
        .select(lit("rpt").as("method"), col("q_id"), col("vec_id")))
    val methods = exact.sparkSession.createDataFrame(
      Seq("ann", "ann_mp", "ivf", "rpt").map(Tuple1(_))).toDF("method")
    exact.crossJoin(broadcast(methods))
      .join(approxAll.withColumn("hit", lit(1L)),
        Seq("method", "q_id", "vec_id"), "left")
      .groupBy(col("method"), col("q_id"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / k).as("recall"))
      .select(col("method"), col("q_id"), col("recall"))
      .localCheckpoint(true) // 4 × |queries| rows
  }

  /** Matryoshka prefix-dimension retrieval eval (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): how much recall@k survives
    * when the index stores only the first 8/16/32 of the 64
    * dimensions — the storage/recall trade a 100 TB vector corpus
    * decides BEFORE building the index (a d=16 prefix index is 4×
    * smaller AND 4× cheaper per distance). Truth is the full-dim exact
    * top-k; each prefix ranking scores cosine over `slice(e, 1, d)`.
    * The d=[[Dim]] row doubles as a self-check (recall 1.0 by
    * construction).
    *
    * Scale: ONE query-broadcast scan of the corpus emits all prefix
    * cosines (the d-slice dot products are prefix sums of the same 64
    * multiplies); the rank window partitions by (q_id, d) — |Q|·|dims|
    * independent partitions, never global. */
  def matryoshkaRecall(emb: DataFrame, queryIds: Seq[Long] = DefaultQueryIds,
      k: Int = 10, dims: Seq[Int] = Seq(8, 16, 32, Dim)): DataFrame = Scope { s =>
    val v = withEmbD(emb)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val structs = dims.map(d => struct(lit(d.toLong).as("d"),
      trunc4(NativeVector.cosine(slice(col("qe"), 1, d), slice(col("e"), 1, d))).as("cos")))
    val pref = v.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), explode(array(structs: _*)).as("p"))
      .select(col("q_id"), col("vec_id"), col("p.d").as("d"), col("p.cos").as("cos"))
    val byQd = Window.partitionBy(col("q_id"), col("d"))
      .orderBy(col("cos").desc, col("vec_id"))
    // feeds the truth slice AND the per-d hit join
    val ranked = s.persist(pref.withColumn("rnk", row_number().over(byQd).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("d"), col("q_id"), col("vec_id")))
    val truth = ranked.filter(col("d") === Dim.toLong)
      .select(col("q_id"), col("vec_id"))
    val ddf = emb.sparkSession.createDataFrame(
      dims.map(d => Tuple1(d.toLong))).toDF("d")
    truth.crossJoin(broadcast(ddf))
      .join(ranked.withColumn("hit", lit(1L)), Seq("d", "q_id", "vec_id"), "left")
      .groupBy(col("d"), col("q_id"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / k).as("recall"))
      .localCheckpoint(true) // |dims|·|Q| rows; releases the rank cache
  }

  /** Reciprocal-rank fusion of the two production ANN paths — the
    * standard way a retrieval pipeline combines heterogeneous rankers
    * (RRF: score = Σ_m 1/(c + rank_m), Cormack et al.): multi-probe LSH
    * and IVF disagree exactly where each is weak, and the fused list is
    * more robust than either (rank-based, so no score calibration
    * across methods is needed).
    *
    * Determinism: ranks are integers; each RRF term is 1.0/(c + rank)
    * — the same two IEEE divisions in both engines, summed in FIXED
    * textual order via the full-outer join (never an aggregate over a
    * method dimension, whose merge order would be engine-specific).
    * Ordering uses the raw double; the emitted score is trunc6.
    *
    * Scale: both inputs arrive as k-rows-per-query checkpoints (each
    * method bounded by its own banding/probing discipline), so the
    * fusion itself joins two tiny relations — the expensive work is the
    * two ANN passes, already paid. */
  def rrfFusion(emb: DataFrame, queryIds: Seq[Long], k: Int = 10,
      c: Int = 60): DataFrame = {
    // ONE persisted vector relation feeds both methods (the recallAtK
    // discipline) — each method's result is an eager k-per-query
    // checkpoint, so the cache can be released before the fusion runs.
    // (Running the two arms as CONCURRENT Future-wrapped chains was
    // A/B-measured ~1.6× SLOWER at sf0.1 on local[4] — the interleaved
    // small-stage jobs thrash scheduling and the shared cache fill —
    // so the arms stay sequential.)
    val (mp, iv) = Scope { s =>
      val v = s.persist(withEmbD(emb))
      (annTopKMultiProbeOn(v, queryIds, k)
        .select(col("q_id"), col("vec_id"), col("rnk").as("rnk_mp")),
        ivfTopKOn(v, queryIds, k)
          .select(col("q_id"), col("vec_id"), col("rnk").as("rnk_ivf")))
    }
    val fused = mp.join(iv, Seq("q_id", "vec_id"), "full_outer")
      .withColumn("score",
        coalesce(lit(1.0) / (lit(c) + col("rnk_mp")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rnk_ivf")), lit(0.0)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    fused.withColumn("rrf_rnk", row_number().over(w).cast("long"))
      .filter(col("rrf_rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("rnk_mp"), col("rnk_ivf"),
        graft.functions.Portable.trunc6(col("score")).as("score"), col("rrf_rnk"))
  }

  /** Recall@k CURVE for the multi-probe ANN path — recall at k ∈
    * {1, 5, 10} from ONE candidate pass, the sweep an index-tuning
    * session reads instead of [[recallAtK]]'s single k=10 point (ANN
    * error concentrates at small k, where one missed near-neighbor is
    * 100% of the answer; the curve shows whether the banding holds
    * there). Both top-k lists are computed once at k_max and sliced
    * per k by rank — the k dimension is a 3-element explode over the
    * k-rows-per-query relations, never a re-scan. */
  def recallCurve(emb: DataFrame, queryIds: Seq[Long] = DefaultQueryIds,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    val kMax = ks.max
    val ex = bruteForceTopK(emb, queryIds, kMax)
      .select(col("q_id"), col("vec_id"), col("rnk"))
    val an = annTopKMultiProbe(emb, queryIds, kMax)
      .select(col("q_id"), col("vec_id"), col("rnk").as("rnk_a"))
    ex.join(an, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rnk"), col("rnk_a"),
        explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"))
      .filter(col("rnk") <= col("k"))
      .groupBy(col("q_id"), col("k"))
      .agg(sum(when(col("rnk_a").isNotNull && col("rnk_a") <= col("k"), 1L)
        .otherwise(0L)).as("n_hit"))
      .withColumn("recall", trunc4(col("n_hit") / col("k")))
  }

  /** nDCG@k of exact retrieval under label relevance — the
    * position-aware sibling of [[labelRecall]] (precision@k says HOW
    * MANY neighbors share the query's label; nDCG says WHERE they
    * rank): rel_i = [label_i = q_label], DCG = Σ rel_i / log2(i+1),
    * normalized by the ideal ordering's IDCG.
    *
    * Exact-integer discipline: the per-rank weights ⌊1e6/log2(i+1)⌋
    * live in ONE broadcast LUT (k rows + the cumulative-sum column),
    * so DCG is an integer dot product and IDCG a LUT lookup on
    * n_same — both engines sum identical BIGINTs; the single division
    * happens once at the end. */
  def ndcgAtK(emb: DataFrame, queryIds: Seq[Long] = DefaultQueryIds,
      k: Int = 10): DataFrame = {
    val spark = emb.sparkSession
    val lut = spark.range(1, k + 1)
      .select(col("id").as("i"),
        floor(lit(1e6) / log2(col("id") + 1)).cast("long").as("w"))
      .withColumn("idcg_scaled", sum(col("w")).over(
        Window.orderBy(col("i")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint(true) // k rows
    val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val scored = bruteForceTopK(emb, queryIds, k)
      .join(broadcast(lbl.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))), "q_id")
      .join(lbl.select(col("vec_id"), col("label").as("n_label")), "vec_id")
      .join(broadcast(lut.select(col("i").as("rnk"), col("w"))), "rnk")
    val perQ = scored.groupBy(col("q_id"), col("q_label"))
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L)).as("n_same"),
        sum(when(col("n_label") === col("q_label"), col("w")).otherwise(0L)).as("dcg_scaled"))
    perQ.join(broadcast(lut.select(col("i").as("n_same"), col("idcg_scaled"))),
        Seq("n_same"), "left")
      .select(col("q_id"), col("q_label"), col("k_eff"), col("n_same"),
        col("dcg_scaled"),
        when(col("n_same") > 0,
          trunc4(col("dcg_scaled") / col("idcg_scaled"))).as("ndcg"))
  }

  /** Hybrid text+vector retrieval — the production RAG/search shape
    * ([[rrfFusion]] fuses two VECTOR methods; this fuses MODALITIES):
    * per query document, a BM25 arm over the document's `nq` RAREST
    * terms (rare terms are the selective ones — a full-doc query
    * would touch half the postings list at corpus scale) and an LSH
    * ANN cosine arm over its embedding (doc_id = vec_id, the corpus'
    * id contract), reciprocal-rank-fused exactly like [[rrfFusion]].
    * A doc surfaced by BOTH arms outranks either alone — lexical
    * matches that are also semantically close are the real answers.
    *
    * Scale shape: the text arm is an inverted-index equi-join on the
    * ≤ |queries|·nq broadcast term list (never a scan of all
    * postings); the vector arm is [[annTopK]]'s banded candidates;
    * the fusion joins two k-row-per-query checkpointed relations. */
  def hybridSearch(docs: DataFrame, emb: DataFrame,
      queryIds: Seq[Long] = DefaultQueryIds, k: Int = 10, nq: Int = 5,
      c: Int = 60): DataFrame = {
    import graft.functions.TextHash
    val textRanked = Scope { s =>
      // feeds tf, df, lens
      val tok = s.persist(graft.functions.Portable.spread(docs, col("doc_id"))
        .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("t")))
      val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dfr = tok.groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
      val lens = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
      val stats = lens.agg(count(lit(1)).as("nd"), sum(col("len")).as("tt"))
      val qw = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))
      val qt = tf.filter(col("doc_id").isin(queryIds: _*))
        .join(dfr, "t")
        .withColumn("qrnk", row_number().over(qw))
        .filter(col("qrnk") <= nq)
        .select(col("doc_id").as("q_id"), col("t"), col("df"))
      val textScored = tf.join(broadcast(qt), "t")
        .filter(col("doc_id") =!= col("q_id"))
        .join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("q_id"), col("doc_id"),
          // the bm25TopK term formula, 1e6-scaled BIGINT terms
          floor((log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * ((col("len").cast("decimal(38,0)") * col("nd")).cast("double") / col("tt"))))) * 1e6)
            .cast("long").as("term_scaled"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("term_scaled")).as("t_scaled"))
      val tw = Window.partitionBy(col("q_id")).orderBy(col("t_scaled").desc, col("doc_id"))
      textScored
        .withColumn("rnk_text", row_number().over(tw).cast("long"))
        .filter(col("rnk_text") <= k)
        .select(col("q_id"), col("doc_id"), col("rnk_text"))
        .localCheckpoint(true) // k rows per query; releases the token cache
    }
    val vecRanked = annTopK(emb, queryIds, k)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk").as("rnk_vec"))
    val fused = textRanked.join(vecRanked, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("score_raw",
        coalesce(lit(1.0) / (lit(c) + col("rnk_text")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rnk_vec")), lit(0.0)))
    val fw = Window.partitionBy(col("q_id")).orderBy(col("score_raw").desc, col("doc_id"))
    fused.withColumn("hybrid_rnk", row_number().over(fw).cast("long"))
      .filter(col("hybrid_rnk") <= k)
      .select(col("q_id"), col("doc_id"), col("rnk_text"), col("rnk_vec"),
        graft.functions.Portable.trunc6(col("score_raw")).as("score"), col("hybrid_rnk"))
  }

  /** Label precision@k of exact retrieval — "when I search, do I get
    * my own class back": for each query vector, the share of its top-k
    * cosine neighbors sharing its label. The class-conditioned quality
    * readout next to [[recallAtK]]'s method-vs-exact comparison (a
    * corpus can have perfect ANN recall and still retrieve garbage if
    * the embedding doesn't separate classes). Integer votes over the
    * k-row-per-query result; one division. */
  def labelRecall(emb: DataFrame, queryIds: Seq[Long] = DefaultQueryIds,
      k: Int = 10): DataFrame = {
    val lbl = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    bruteForceTopK(emb, queryIds, k)
      .join(broadcast(lbl.select(col("vec_id").as("q_id"), col("label").as("q_label"))
        .filter(col("q_id").isin(queryIds: _*))), "q_id")
      .join(lbl.select(col("vec_id"), col("label").as("n_label")), "vec_id")
      .groupBy(col("q_id"), col("q_label"))
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("label_precision", trunc4(col("n_same") / col("k_eff")))
  }

  /** MMR diversity reranking (Carbonell & Goldstein 1998, the greedy
    * rerank every RAG retrieval stack ships): from each query's exact
    * top-k, select `sel` results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — relevance traded against
    * redundancy with what's already picked. The greedy recursion
    * unrolls into `sel` relational rounds (the [[Graph]] LPA/k-core
    * oracle discipline): each round is a bounded join over the
    * ≤ k-row-per-query candidate set, so the whole rerank costs
    * O(q·k²) — independent of corpus size, the property that makes
    * MMR a post-retrieval step at any scale.
    *
    * Determinism: rel and the pairwise sims are the trunc4'd cosines
    * (identical in both engines), λ and 1−λ fold to single doubles
    * shared with the oracle, ties break on vec_id. */
  def mmrRerank(emb: DataFrame, queryIds: Seq[Long] = DefaultQueryIds,
      k: Int = 10, sel: Int = 5, lam: Double = 0.7): DataFrame = Scope { s =>
    val mu = 1.0 - lam
    // feeds every greedy round
    val topk = s.persist(bruteForceTopK(emb, queryIds, k)
      .select(col("q_id"), col("vec_id"), col("cos").as("rel")))
    val ve = withEmbD(emb)
    val cand = topk.join(ve, "vec_id")
      .select(col("q_id"), col("vec_id"), col("e"))
    // k²-per-query pair relation, reused each round
    val sims = s.persist(cand.as("a").join(cand.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.q_id").as("q_id"), col("a.vec_id").as("c"),
        col("b.vec_id").as("s"), trunc4(NativeVector.cosine(col("a.e"), col("b.e"))).as("sim")))
    val w1 = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))
    var selected = topk.withColumn("r", row_number().over(w1)).filter(col("r") === 1)
      .select(col("q_id"), col("vec_id"), lit(1L).as("pick"), col("rel"),
        lit(null).cast("double").as("mmr"))
    for (i <- 2 to sel) {
      val remaining = topk.join(selected.select(col("q_id"), col("vec_id")),
        Seq("q_id", "vec_id"), "left_anti")
      val ms = sims
        .join(selected.select(col("q_id"), col("vec_id").as("s")), Seq("q_id", "s"))
        .groupBy(col("q_id"), col("c")).agg(max(col("sim")).as("msim"))
        .withColumnRenamed("c", "vec_id")
      val scored = remaining.join(ms, Seq("q_id", "vec_id"))
        .withColumn("mmr0", lit(lam) * col("rel") - lit(mu) * col("msim"))
      val wi = Window.partitionBy(col("q_id")).orderBy(col("mmr0").desc, col("vec_id"))
      val pick = scored.withColumn("r", row_number().over(wi)).filter(col("r") === 1)
        .select(col("q_id"), col("vec_id"), lit(i.toLong).as("pick"), col("rel"),
          trunc4(col("mmr0")).as("mmr"))
      // checkpoint each round: `selected` feeds BOTH the anti-join and
      // the max-sim join, so an unflattened lineage doubles per round
      // (2^sel plan copies — measured 14.8 s vs ~1 s flattened)
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    selected
  }

  /** Prefix dims for [[pcaTop]] — the Matryoshka head (q_vec_matryoshka
    * measures that prefix dims carry the signal); full-dim PCA is the
    * same plan with D(D+1)/2 more aggregate columns. */
  val PcaDim = 16
  /** Power-iteration steps (fixed — the oracle unrolls the same 8). */
  val PcaIters = 8

  /** Top principal component of the embedding covariance by POWER
    * ITERATION — embedding-health analytics (anisotropy: one dominant
    * direction ⇒ the encoder wastes capacity; Mu & Viswanath 2018
    * recommend removing it). Classic distributed-PCA split: moments
    * need one pass over the facts, the eigensolve runs on the tiny
    * D×D matrix.
    *
    *  1. ONE scan aggregates n, per-dim sums S_d and product-moments
    *     M_de over 2^20-quantized coords (exact BIGINTs; at >10⁸ rows
    *     widen the moment sums to DECIMAL(38,0) — the abCuped rule).
    *  2. cov cells re-quantize as c_de = (M·n − S_d·S_e) div (n²·2^20)
    *     in DECIMAL(38,0) — `div` truncates toward zero in BOTH engines
    *     (Spark div ≡ DuckDB //), so cells are bit-identical integers.
    *  3. 8 power steps on the 2·D²-row matrix relation: w = C·v in
    *     exact integers (|c|,|v| ≤ 2^20 ⇒ terms ≤ 2^40, D-term sums
    *     ≤ 2^46); ‖w‖² sums w² through DECIMAL(38,0) (a w² term alone
    *     is 2^92); the rescale v' = ⌊w/‖w‖·2^20⌋ divides identical
    *     doubles. Every step is engine-replayable — the oracle unrolls
    *     the same 8 rounds (the BPE-oracle pattern).
    *
    * Output: one row per dim — loading (exact v_d/2^20), Rayleigh
    * eigenvalue λ = vᵀCv/vᵀv and its share of total variance (top-PC
    * dominance, THE anisotropy number). All fact work is one map-side-
    * combined aggregate; iterations touch ≤ 2·D² rows each. */
  def pcaTop(emb: DataFrame, dim: Int = PcaDim, iters: Int = PcaIters): DataFrame = {
    val QS = 1048576L // 2^20
    def qd(d: Int): Column =
      floor(element_at(col("embedding"), d + 1).cast("double") * QS).cast("long")
    val momAggs = (0 until dim).map(d => sum(qd(d)).as(s"s$d")) ++
      (for (d <- 0 until dim; e <- d until dim)
        yield sum(qd(d) * qd(e)).as(s"m_${d}_$e"))
    // the ONE fact-sized pass: the map-side-combined moment aggregate
    val mom = emb.agg(count(lit(1)).as("n"), momAggs: _*).head()
    // The eigensolve runs DRIVER-SIDE (r12): its whole state is the D×D
    // cov matrix + a D-vector, and the relational loop paid 3 tiny
    // actions per power step (24 one-to-few-row localCheckpoints).
    // Arithmetic is the IDENTICAL sequence — BigInt mirrors the
    // DECIMAL(38,0) widenings (both exact, both truncate toward zero on
    // div), BigDecimal.toDouble is the same correctly-rounded conversion
    // Spark's Decimal cast performs — so every v/λ matches the oracle's
    // 8 unrolled MATERIALIZED steps bit-for-bit.
    val n = mom.getAs[Long]("n")
    val s = (0 until dim).map(d => mom.getAs[Long](s"s$d")).toArray
    val denom = BigInt(n) * n * QS
    val c = Array.tabulate(dim, dim) { (d, e) =>
      val (lo, hi) = if (d <= e) (d, e) else (e, d)
      ((BigInt(mom.getAs[Long](s"m_${lo}_$hi")) * n - BigInt(s(d)) * s(e)) / denom)
        .toLong
    }
    var v = Array.fill(dim)(QS)
    def bigToD(x: BigInt): Double = BigDecimal(x).toDouble
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dim)(d =>
        (0 until dim).map(e => c(d)(e) * v(e)).sum)
      val nrm = math.sqrt(bigToD(w.map(x => BigInt(x) * x).sum))
      v = w.map(x => math.floor(x.toDouble / nrm * QS).toLong)
    }
    val num = (for (d <- 0 until dim; e <- 0 until dim)
      yield BigInt(c(d)(e) * v(e)) * v(d)).sum
    val den = v.map(x => x * x).sum
    val tv = (0 until dim).map(d => c(d)(d)).sum
    val lambda = bigToD(num) / (den.toDouble * QS)
    def trunc4d(x: Double): Double = math.floor(x * 10000).toLong.toDouble / 10000
    val spark = emb.sparkSession
    import spark.implicits._
    (0 until dim).map(d => (d, v(d).toDouble / QS, trunc4d(lambda),
        trunc4d(lambda / (tv.toDouble / QS))))
      .toDF("d", "loading", "lambda", "var_share")
  }

  /** The generated DuckDB mirror of [[pcaTop]] — same moments, same
    * truncated-div cov cells, same 8 unrolled power steps. Every
    * chained CTE is MATERIALIZED: DuckDB inlines single-reference CTEs,
    * and each power step references its predecessor through two paths
    * (w and ‖w‖), so inlining doubles the plan tree per step — 2^8
    * copies of the 137-aggregate moment scan (measured: >120 s inlined,
    * 0.36 s materialized — the SQL twin of the per-round
    * localCheckpoint in the Spark loop). */
  private[graft] def pcaOracle(dim: Int = PcaDim, iters: Int = PcaIters): String = {
    val QS = 1048576L
    val momCols = (0 until dim).map(d =>
      s"sum(floor(embedding[${d + 1}]::DOUBLE * $QS)::BIGINT)::HUGEINT s$d").mkString(", ") +
      ", " + (for (d <- 0 until dim; e <- d until dim) yield
        s"sum(floor(embedding[${d + 1}]::DOUBLE * $QS)::BIGINT * " +
          s"floor(embedding[${e + 1}]::DOUBLE * $QS)::BIGINT)::HUGEINT m_${d}_$e").mkString(", ")
    val cellRows = (for (d <- 0 until dim; e <- d until dim) yield
      s"($d, $e, ((m_${d}_$e * n - s$d * s$e) // (n::HUGEINT * n * $QS))::BIGINT)")
      .mkString(", ")
    val v0 = (0 until dim).map(d => s"($d, $QS)").mkString(", ")
    val steps = (1 to iters).map { t =>
      val prev = if (t == 1) "v0" else s"v${t - 1}"
      s"w$t AS MATERIALIZED (SELECT m.d, sum(m.c * v.vv)::BIGINT w FROM mat m JOIN $prev v ON m.e = v.vd GROUP BY 1), " +
        s"n$t AS MATERIALIZED (SELECT sqrt(sum(w::HUGEINT * w)::DOUBLE) nrm FROM w$t), " +
        s"v$t AS MATERIALIZED (SELECT d vd, floor(w::DOUBLE / nrm * $QS)::BIGINT vv FROM w$t CROSS JOIN n$t)"
    }.mkString(", ")
    s"WITH mom AS MATERIALIZED (SELECT count(*)::BIGINT n, $momCols FROM embeddings), " +
      s"half AS MATERIALIZED (SELECT * FROM mom, LATERAL (VALUES $cellRows) t(d, e, c)), " +
      "mat AS MATERIALIZED (SELECT d, e, c FROM half UNION ALL SELECT e, d, c FROM half WHERE d <> e), " +
      s"v0(vd, vv) AS (VALUES $v0), $steps, " +
      s"num AS (SELECT sum(m.c::HUGEINT * a.vv * b.vv) num FROM mat m " +
      s"JOIN v$iters a ON m.e = a.vd JOIN v$iters b ON m.d = b.vd), " +
      s"den AS (SELECT sum(vv * vv)::HUGEINT den FROM v$iters), " +
      "tv AS (SELECT sum(c)::BIGINT tv FROM mat WHERE d = e), " +
      s"sc AS (SELECT num::DOUBLE / (den::DOUBLE * $QS) lambda, tv FROM num CROSS JOIN den CROSS JOIN tv) " +
      s"SELECT vd AS d, vv::DOUBLE / $QS AS loading, " +
      "floor(lambda * 10000) / 10000 AS lambda, " +
      s"floor(lambda / (tv::DOUBLE / $QS) * 10000) / 10000 AS var_share " +
      s"FROM v$iters CROSS JOIN sc"
  }

  /** IVF recall@k as a function of nprobe — the OTHER tuning axis next
    * to [[recallCurve]]'s k sweep and [[Dedup.bandTuning]]'s geometry
    * sweep: one candidate pass probes the top-max(nprobes) inverted
    * lists per query, and every smaller nprobe's result is a SLICE of
    * that pass (filter prn ≤ nprobe, re-rank) — the index owner reads
    * off the recall-vs-scan-fraction frontier without re-searching per
    * setting. Candidates are unique per (q, vec) by construction (a
    * vector lives in one list), so slices need no dedup.
    *
    * Scale: training/assignment/probing shared with [[ivfTopK]]; the
    * sweep multiplies only the CANDIDATE rows (≤ maxProbe/NList of the
    * corpus per query) by |nprobes|, and every window is per-(query,
    * nprobe) over those candidates. The exact baseline is the
    * documented measurement-only pass. */
  def nprobeCurve(emb: DataFrame, queryIds: Seq[Long] = DefaultQueryIds,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8), k: Int = 10): DataFrame = Scope { s =>
    val v = s.persist(withEmbD(emb))
    val cents = trainedCentroids(v).localCheckpoint(true)
    val assign = assignTo(v, cents)
    val q = v.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qe"), col("cid"),
        trunc4(NativeVector.cosine(col("qe"), col("ce"))).as("qcos"))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cid"))))
      .filter(col("prn") <= nprobes.max)
      .select(col("q_id"), col("qe"), col("cid").as("list_id"), col("prn"))
    val scored = v.join(assign, "vec_id")
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("prn"),
        trunc4(NativeVector.cosine(col("qe"), col("e"))).as("cos"))
    val exact = bruteForceTopK(emb, queryIds, k)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    val swept = scored
      .select(col("q_id"), col("vec_id"), col("cos"), col("prn"),
        explode(array(nprobes.map(n => lit(n.toLong)): _*)).as("nprobe"))
      .filter(col("prn") <= col("nprobe"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"),
        col("nprobe")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
    swept.join(exact, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"), col("nprobe"))
      .agg(count(lit(1)).as("n_ret"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("nprobe"), col("n_ret"), col("n_hit"),
        trunc4(col("n_hit") / lit(k)).as("recall"))
      .localCheckpoint(true)
  }

  /** Local Outlier Factor (Breunig et al. 2000) over the BANDED kNN
    * graph — density-ratio outlier scoring on embeddings, the
    * neighborhood-aware sibling of [[vectorOutliers]]' global-distance
    * screen (a point in a tight cluster far from the centroid is fine;
    * a point 2× sparser than its own neighbors is the anomaly). Runs
    * on [[knnGraph]]'s LSH-banded approximate neighborhoods — exactly
    * how production LOF scales (exact kNN is the O(n²) part; the LOF
    * algebra on top is linear in edges).
    *
    *   reach(p←o) = max(kdist(o), d(p,o)),  lrd(p) = k / Σ reach,
    *   LOF(p) = (Σ_o lrd(o)) / k / lrd(p)
    *
    * Exactness: d = 1−cos at trunc4 granularity becomes the exact
    * integer dist4 = 10000 − ⌊cos·10⁴ + ½⌋, so kdist/reach/Σreach are
    * BIGINTs; lrd divides exact integers once; the Σ lrd(o) float sum
    * is PIVOTED to rnk-indexed columns and folded in one textual order
    * (the sinkhorn rule — never an order-free SUM over doubles). Nodes
    * without a full k-neighborhood under the banding (or with
    * zero-distance neighborhoods) drop out, in both engines alike.
    * Report: top-`topN` by LOF via sort-limit (TakeOrdered — no global
    * window over the per-vector relation; the rfm rule). */
  def lofScores(emb: DataFrame, k: Int = 5, topN: Int = 20): DataFrame = {
    val edges = knnGraph(emb, k)
      .select(col("src_id"), col("dst_id"), col("rnk"),
        (lit(10000L) - floor(col("cos") * 10000 + 0.5).cast("long")).as("dist4"))
      .localCheckpoint(true) // ≤ k·n narrow rows; feeds three passes
    val kdist = edges.groupBy(col("src_id"))
      .agg(max(col("dist4")).as("kd"), count(lit(1)).as("deg"))
    val reach = edges
      .join(kdist.select(col("src_id").as("dst_id"), col("kd")), "dst_id")
      .select(col("src_id"), col("dst_id"), col("rnk"),
        greatest(col("kd"), col("dist4")).as("reach4"))
    val lrd = reach.groupBy(col("src_id"))
      .agg(count(lit(1)).as("deg"), sum(col("reach4")).as("sum_reach4"))
      .filter(col("deg") === k && col("sum_reach4") > 0)
      .select(col("src_id"), (lit(k * 10000.0) / col("sum_reach4")).as("lrd"))
    val nb = edges
      .join(lrd.select(col("src_id").as("dst_id"), col("lrd").as("lrd_o")), "dst_id")
    val piv = nb.groupBy(col("src_id")).agg(count(lit(1)).as("m"),
      (1 to k).map(i => max(when(col("rnk") === i, col("lrd_o"))).as(s"l$i")): _*)
      .filter(col("m") === k)
    val lof = piv.join(lrd, "src_id")
      .select(col("src_id"),
        trunc4(((1 to k).map(i => col(s"l$i")).reduce(_ + _) / k) / col("lrd"))
          .as("lof"))
    // rank AFTER the limit and BEFORE any checkpoint: the plan then
    // reads WindowExec-over-GlobalLimit — visibly collapsed to the
    // ScaleSpec sweep (a checkpoint in between would hide the limit)
    lof.orderBy(col("lof").desc, col("src_id")).limit(topN)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("lof").desc, col("src_id"))).cast("long"))
      .localCheckpoint(true)
  }

  // ---- driver wiring ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lof" -> ((s, d) => lofScores(Tables.embeddings(s, d))),
    "q_nprobe_curve" -> ((s, d) => nprobeCurve(Tables.embeddings(s, d))),
    "q_vec_pca" -> ((s, d) => pcaTop(Tables.embeddings(s, d))),
    "q_sim_mmr" -> ((s, d) => mmrRerank(Tables.embeddings(s, d))),
    "q_sim_label_recall" -> ((s, d) => labelRecall(Tables.embeddings(s, d))),
    "q_hard_negatives" -> ((s, d) => hardNegatives(Tables.embeddings(s, d))),
    "q_hybrid_search" -> ((s, d) =>
      hybridSearch(Tables.documents(s, d), Tables.embeddings(s, d))),
    "q_ndcg" -> ((s, d) => ndcgAtK(Tables.embeddings(s, d))),
    "q_sim_rrf" -> ((s, d) => rrfFusion(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_exact" -> ((s, d) => bruteForceTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_ann" -> ((s, d) => annTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_ann_mp" -> ((s, d) => annTopKMultiProbe(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_ivf" -> ((s, d) => ivfTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_rpt" -> ((s, d) => rptTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_neardup" -> ((s, d) => nearDupPairs(Tables.embeddings(s, d))),
    "q_knn_graph" -> ((s, d) => knnGraph(Tables.embeddings(s, d))),
    "q_knn_refine" -> ((s, d) => knnRefine(Tables.embeddings(s, d))),
    "q_label_noise" -> ((s, d) => labelNoise(Tables.embeddings(s, d))),
    "q_vec_outliers" -> ((s, d) => vecOutliers(Tables.embeddings(s, d))),
    "q_calibration" -> ((s, d) => calibration(Tables.embeddings(s, d))),
    "q_dedup_semantic" -> ((s, d) => semanticDedup(Tables.embeddings(s, d))),
    "q_sim_decontam" -> ((s, d) => simDecontam(Tables.embeddings(s, d))),
    "q_ivf_stats" -> ((s, d) => ivfStats(Tables.embeddings(s, d))),
    "q_ivf_incr" -> ((s, d) => ivfIncr(Tables.embeddings(s, d))),
    "q_knn_label_eval" -> ((s, d) => knnLabelEval(Tables.embeddings(s, d))),
    "q_sim_filter_topk" -> ((s, d) => filteredTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_recall" -> ((s, d) => recallAtK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_vec_matryoshka" -> ((s, d) => matryoshkaRecall(Tables.embeddings(s, d))),
    "q_recall_curve" -> ((s, d) => recallCurve(Tables.embeddings(s, d))),
    "q_vec_quantize" -> ((s, d) => quantizeAudit(Tables.embeddings(s, d))),
    "q_vec_pq" -> ((s, d) => pqEncode(Tables.embeddings(s, d))),
    "q_sim_topk_adc" -> ((s, d) => adcTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_ivfpq" -> ((s, d) => ivfAdcTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_bin" -> ((s, d) => binTopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_sim_topk_sq8" -> ((s, d) => sq8TopK(Tables.embeddings(s, d), DefaultQueryIds)),
    "q_vec_drift" -> ((s, d) => vecDrift(Tables.embeddings(s, d))),
    "q_vec_dq" -> ((s, d) => vectorDq(Tables.embeddings(s, d))),
    "q_vec_project" -> ((s, d) => vecProject(Tables.embeddings(s, d))))

  private def planeSql(h: Int): String =
    hyperplanes(h).map(v => BigDecimal(v).underlying.toPlainString).mkString("[", ",", "]") + "::DOUBLE[]"

  // -- shared oracle CTE fragments (composed per query and by recall) --

  private val vCte = "v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings)"

  /** One MMR greedy round unrolled as SQL CTEs (cum(i-1) → pick(i) →
    * cum(i)) — the LPA/k-core unroll discipline applied to the rerank
    * recursion. λ and 1−λ interpolate the exact Scala doubles
    * (::DOUBLE so the literal can't type as DECIMAL). */
  private def mmrIterSql(i: Int, lam: Double, mu: Double): String =
    s"ms$i AS (SELECT p.q_id, p.c AS vec_id, max(p.sim) AS msim FROM psim p " +
      s"JOIN cum${i - 1} s ON p.q_id = s.q_id AND p.s = s.vec_id GROUP BY 1, 2), " +
      s"sc$i AS (SELECT c.q_id, c.vec_id, c.rel, " +
      s"$lam::DOUBLE * c.rel - $mu::DOUBLE * m.msim AS mmr0 " +
      s"FROM cand c JOIN ms$i m ON c.q_id = m.q_id AND c.vec_id = m.vec_id " +
      s"LEFT JOIN cum${i - 1} z ON c.q_id = z.q_id AND c.vec_id = z.vec_id " +
      "WHERE z.vec_id IS NULL), " +
      s"pick$i AS (SELECT q_id, vec_id, $i::BIGINT AS pick, rel, " +
      "floor(mmr0 * 10000) / 10000 AS mmr FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY q_id ORDER BY mmr0 DESC, vec_id) r FROM sc$i) WHERE r = 1), " +
      s"cum$i AS (SELECT * FROM cum${i - 1} UNION ALL SELECT * FROM pick$i)"

  private lazy val mmrOracle: String = {
    val lam = 0.7; val mu = 1.0 - lam
    s"WITH $vCte, $qsCte, $exactCtes, " +
      "cand AS (SELECT q_id, vec_id, cos AS rel FROM ex_ranked WHERE rnk <= 10), " +
      "psim AS (SELECT a.q_id, a.vec_id AS c, b.vec_id AS s, " +
      "floor(list_cosine_similarity((SELECT e FROM v WHERE v.vec_id = a.vec_id), " +
      "(SELECT e FROM v WHERE v.vec_id = b.vec_id)) * 10000) / 10000 AS sim " +
      "FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id), " +
      "cum1 AS (SELECT q_id, vec_id, 1::BIGINT AS pick, rel, NULL::DOUBLE AS mmr FROM " +
      "(SELECT q_id, vec_id, rel, row_number() OVER " +
      "(PARTITION BY q_id ORDER BY rel DESC, vec_id) r FROM cand) WHERE r = 1), " +
      (2 to 5).map(i => mmrIterSql(i, lam, mu)).mkString(", ") + " " +
      "SELECT q_id, vec_id, pick, rel, mmr FROM cum5"
  }

  /** The kNN-graph chain (banded candidates → cosine → mirror →
    * per-source top-5), shared by q_knn_graph and q_label_noise. */
  /** kg_pairs alone — the kNN chain's candidate relation, shared with
    * the cross-family candidate-density audit (requires v, kg_bands). */
  private[graft] val kgPairsCte =
    "kg_pairs AS (SELECT DISTINCT x.vec_id a_id, y.vec_id b_id " +
      "FROM kg_bands x JOIN kg_bands y ON x.band = y.band AND x.bkey = y.bkey " +
      "AND x.vec_id < y.vec_id)"

  /** Full oracle prefix for counting kg_pairs (v + banding + pairs). */
  private[graft] def kgCandPrefixSql: String = s"$vCte, $kgBandsCte, $kgPairsCte"

  private val kgCtes =
    kgPairsCte + ", " +
      "kg_scored AS (SELECT a_id, b_id, floor(list_cosine_similarity(" +
      "(SELECT e FROM v WHERE v.vec_id = kg_pairs.a_id), " +
      "(SELECT e FROM v WHERE v.vec_id = kg_pairs.b_id)) * 10000) / 10000 cos " +
      "FROM kg_pairs), " +
      "kg_dir AS (SELECT a_id src_id, b_id dst_id, cos FROM kg_scored " +
      "UNION ALL SELECT b_id, a_id, cos FROM kg_scored), " +
      "kg_topk AS (SELECT src_id, dst_id, cos, row_number() OVER " +
      "(PARTITION BY src_id ORDER BY cos DESC, dst_id)::BIGINT rnk FROM kg_dir " +
      "QUALIFY rnk <= 5)"

  /** (q_id, qe) query vectors — exact + ivf share it. */
  private val qsCte = s"qs AS (SELECT vec_id q_id, e qe FROM v WHERE vec_id IN $idsSql)"

  /** bits + bands for an arbitrary geometry — mirrors
    * [[bandStructsWith]]. Requires v; CTE names carry `prefix`. */
  private def bitsBandsCteWith(prefix: String, bands: Int, rows: Int): String = {
    val bitExprs = (0 until bands * rows).map(h =>
      s"CASE WHEN list_dot_product(e, ${planeSql(h)}) >= 0 THEN 1 ELSE 0 END")
    val bandRows = (0 until bands).map { b =>
      val key = (0 until rows).map(i => s"(bit_${b * rows + i} * ${1 << i})").mkString(" + ")
      s"SELECT vec_id, e, $b AS band, $key AS bkey FROM ${prefix}bits"
    }.mkString(" UNION ALL ")
    s"${prefix}bits AS (SELECT vec_id, e, " +
      bitExprs.zipWithIndex.map { case (e, i) => s"$e AS bit_$i" }.mkString(", ") +
      s" FROM v), ${prefix}bands AS (" + bandRows + ")"
  }

  /** bits + bands — mirrors [[bandStructs]]. Requires v. */
  private lazy val bitsBandsCte: String = bitsBandsCteWith("", Bands, RowsPerBand)

  /** The kNN chain's WIDE geometry — mirrors knnGraph's banding. */
  private lazy val kgBandsCte: String =
    bitsBandsCteWith("kg_", KnnBands, KnnRowsPerBand)

  private def rankedSql(name: String, from: String): String =
    s"$name AS (SELECT q_id, vec_id, cos, row_number() OVER " +
      s"(PARTITION BY q_id ORDER BY cos DESC, vec_id) rnk FROM $from)"

  /** RP-tree chain → rp_ranked. Requires v. Mirrors [[rpTreeLeaves]]
    * level by level — sample, per-node ceil-median threshold row,
    * lexicographic (proj, vec_id) split — then the leaf equi-join and
    * the shared exact-refine/rank tail. */
  private lazy val rptCtes: String = {
    val sampPred =
      s"('0x' || substr(md5('rpt|' || vec_id), 1, 15))::BIGINT % $RptSampleMod = 0"
    val perTree = (0 until RptTrees).map { t =>
      (0 until RptDepth).map { lvl =>
        val src = if (lvl == 0) "v" else s"rp_a${t}_${lvl - 1}"
        val pfx0 = if (lvl == 0) "0::BIGINT" else "pfx"
        s"rp_t${t}_$lvl AS (SELECT vec_id, e, $pfx0 AS pfx, " +
          s"list_dot_product(e, ${planeSql(rptPlane(t, lvl))}) AS proj FROM $src), " +
          s"rp_h${t}_$lvl AS (SELECT pfx, proj AS tp, vec_id AS tv FROM " +
          "(SELECT pfx, proj, vec_id, row_number() OVER " +
          "(PARTITION BY pfx ORDER BY proj, vec_id) rn, " +
          s"count(*) OVER (PARTITION BY pfx) ns FROM rp_t${t}_$lvl WHERE $sampPred) " +
          "WHERE rn * 2 = ns + ns % 2), " +
          s"rp_a${t}_$lvl AS (SELECT x.vec_id, x.e, x.pfx * 2 + " +
          "CASE WHEN h.tp IS NULL THEN 0 " +
          "WHEN x.proj > h.tp OR (x.proj = h.tp AND x.vec_id > h.tv) THEN 1 " +
          s"ELSE 0 END AS pfx FROM rp_t${t}_$lvl x " +
          s"LEFT JOIN rp_h${t}_$lvl h ON x.pfx = h.pfx)"
      }.mkString(", ")
    }.mkString(", ")
    val leaves = (0 until RptTrees).map(t =>
      s"SELECT vec_id, $t::BIGINT AS tree, pfx AS leaf FROM rp_a${t}_${RptDepth - 1}")
      .mkString(" UNION ALL ")
    perTree + ", rp_leaves AS (" + leaves + "), " +
      s"rp_q AS (SELECT vec_id q_id, tree, leaf FROM rp_leaves WHERE vec_id IN $idsSql), " +
      "rp_cand AS (SELECT DISTINCT q.q_id, c.vec_id FROM rp_leaves c JOIN rp_q q " +
      "ON c.tree = q.tree AND c.leaf = q.leaf WHERE c.vec_id <> q.q_id), " +
      "rp_scored AS (SELECT q_id, vec_id, floor(list_cosine_similarity(" +
      "(SELECT e FROM v WHERE v.vec_id = rp_cand.q_id), " +
      "(SELECT e FROM v WHERE v.vec_id = rp_cand.vec_id)) * 10000) / 10000 cos " +
      "FROM rp_cand), " +
      rankedSql("rp_ranked", "rp_scored")
  }

  /** exact top-k chain → ex_ranked. Requires v, qs. */
  private val exactCtes =
    "ex_scored AS (SELECT q_id, vec_id, floor(list_cosine_similarity(qe, e) * 10000) / 10000 cos " +
      "FROM v CROSS JOIN qs WHERE vec_id <> q_id), " + rankedSql("ex_ranked", "ex_scored")

  /** LSH-ANN chain → an_ranked. Requires v, bits/bands. */
  private val annCtes =
    s"qb AS (SELECT vec_id q_id, e qe, band, bkey FROM bands WHERE vec_id IN $idsSql), " +
      "an_cand AS (SELECT DISTINCT q_id, vec_id FROM bands JOIN qb USING (band, bkey) WHERE vec_id <> q_id), " +
      "an_scored AS (SELECT q_id, vec_id, floor(list_cosine_similarity(" +
      "(SELECT qe FROM qb WHERE qb.q_id = an_cand.q_id LIMIT 1), " +
      "(SELECT e FROM v WHERE v.vec_id = an_cand.vec_id)) * 10000) / 10000 cos FROM an_cand), " +
      rankedSql("an_ranked", "an_scored")

  /** Multi-probe LSH chain → amp_ranked: qb's band keys expanded with
    * every single-bit flip, then the annCtes shape. Requires v, bands,
    * and qb (from annCtes). */
  private lazy val annMpCtes = {
    val flips = (Seq("bkey") ++ (0 until RowsPerBand).map(i => s"xor(bkey, ${1 << i})"))
      .mkString("[", ", ", "]")
    s"qbm AS (SELECT q_id, qe, band, unnest($flips) bkey FROM qb), " +
      "amp_cand AS (SELECT DISTINCT q_id, vec_id FROM bands JOIN qbm USING (band, bkey) WHERE vec_id <> q_id), " +
      "amp_scored AS (SELECT q_id, vec_id, floor(list_cosine_similarity(" +
      "(SELECT qe FROM qb WHERE qb.q_id = amp_cand.q_id LIMIT 1), " +
      "(SELECT e FROM v WHERE v.vec_id = amp_cand.vec_id)) * 10000) / 10000 cos FROM amp_cand), " +
      rankedSql("amp_ranked", "amp_scored")
  }

  /** One k-means assignment over relation `rel`: centroid set `cIn` →
    * kas$idx(vec_id, list_id). Training steps run over the `ks` sample;
    * the final assignment runs over all of `v`. */
  private def kmAssignSql(cIn: String, idx: Int, rel: String): String =
    s"ka$idx AS (SELECT $rel.vec_id, c.cid, " +
      s"floor(list_cosine_similarity($rel.e, c.ce) * 10000) / 10000 ccos " +
      s"FROM $rel CROSS JOIN $cIn c), " +
      s"kas$idx AS (SELECT vec_id, cid AS list_id FROM (SELECT vec_id, cid, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn FROM ka$idx) WHERE rn = 1)"

  /** One k-means update: kas$idx assignment → c${idx+1} centroids, with
    * the same exact quantized sums as [[centroidStep]]. */
  private def kmUpdateSql(idx: Int): String =
    s"kj$idx AS (SELECT a.list_id, r.d, " +
      s"sum(floor(ks.e[r.d] * ${QScale.toLong}))::BIGINT sv, count(*) n " +
      s"FROM ks JOIN kas$idx a USING (vec_id) CROSS JOIN range(1, ${Dim + 1}) r(d) GROUP BY 1, 2), " +
      s"c${idx + 1} AS (SELECT list_id AS cid, " +
      s"list(sv::DOUBLE / n / ${QScale.toLong}.0 ORDER BY d) ce FROM kj$idx GROUP BY list_id)"

  /** k-means training chain → kas$KmIters (the full-corpus assignment):
    * deterministic sample ks, seed c0, KmIters Lloyd steps with exact
    * quantized sums, final assignment over all of v. Requires v.
    * Shared by the IVF probe chain and the SemDeDup oracle. */
  private lazy val kmChainCtes = {
    val train = (0 until KmIters)
      .map(i => kmAssignSql(s"c$i", i, "ks") + ", " + kmUpdateSql(i)).mkString(", ")
    "ks AS (SELECT vec_id, e FROM v " +
      "WHERE ('0x'||substr(md5('kms|'||vec_id),1,15))::BIGINT % 4 = 0), " +
      s"c0 AS (SELECT vec_id::INT cid, e ce FROM v WHERE ${seedSliceSql(NList)}), " +
      train + ", " + kmAssignSql(s"c$KmIters", KmIters, "v")
  }

  /** [[kmChainCtes]] generalized: the same deterministic sample → seed
    * → KmIters exact-quantized Lloyd steps → final assignment chain,
    * but over an arbitrary relation `rel` with every CTE name carrying
    * `p` — so the decontam oracle can train on the TRAIN slice without
    * colliding with the shared full-corpus chain. */
  private def kmChainCtesOver(p: String, rel: String): String = {
    def assignSql(cIn: String, idx: Int, r: String): String =
      s"${p}ka$idx AS (SELECT $r.vec_id, c.cid, " +
        s"floor(list_cosine_similarity($r.e, c.ce) * 10000) / 10000 ccos " +
        s"FROM $r CROSS JOIN $cIn c), " +
        s"${p}kas$idx AS (SELECT vec_id, cid AS list_id FROM (SELECT vec_id, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn " +
        s"FROM ${p}ka$idx) WHERE rn = 1)"
    def updateSql(idx: Int): String =
      s"${p}kj$idx AS (SELECT a.list_id, r.d, " +
        s"sum(floor(${p}ks.e[r.d] * ${QScale.toLong}))::BIGINT sv, count(*) n " +
        s"FROM ${p}ks JOIN ${p}kas$idx a USING (vec_id) " +
        s"CROSS JOIN range(1, ${Dim + 1}) r(d) GROUP BY 1, 2), " +
        s"${p}c${idx + 1} AS (SELECT list_id AS cid, " +
        s"list(sv::DOUBLE / n / ${QScale.toLong}.0 ORDER BY d) ce FROM ${p}kj$idx GROUP BY list_id)"
    val train = (0 until KmIters)
      .map(i => assignSql(s"${p}c$i", i, s"${p}ks") + ", " + updateSql(i)).mkString(", ")
    s"${p}ks AS (SELECT vec_id, e FROM $rel " +
      "WHERE ('0x'||substr(md5('kms|'||vec_id),1,15))::BIGINT % 4 = 0), " +
      s"${p}c0 AS (SELECT vec_id::INT cid, e ce FROM $rel WHERE ${seedSliceSql(NList)}), " +
      train + ", " + assignSql(s"${p}c$KmIters", KmIters, rel)
  }

  /** Cross-corpus decontamination chain → dc_sc (scored held-out →
    * train candidate pairs): train/held-out split, train-slice k-means,
    * hash-capped inverted lists, top-NProbe probes, probe-join scoring.
    * Requires v. Shared by the batch aggregate (q_sim_decontam) and the
    * streaming pair emitter (q_stream_decontam). */
  private[graft] lazy val dcCtes: String =
    "dc_tr AS (SELECT vec_id, e FROM v WHERE vec_id % 7 <> 0), " +
      "dc_ho AS (SELECT vec_id q_id, e qe FROM v WHERE vec_id % 7 = 0), " +
      kmChainCtesOver("dc_", "dc_tr") + ", " +
      s"dc_cap AS (SELECT vec_id, e, list_id FROM (SELECT t.vec_id, t.e, a.list_id, " +
      "row_number() OVER (PARTITION BY a.list_id ORDER BY " +
      "('0x'||substr(md5('dcap|'||t.vec_id),1,15))::BIGINT, t.vec_id) crnk " +
      s"FROM dc_tr t JOIN dc_kas$KmIters a USING (vec_id)) WHERE crnk <= 64), " +
      "dc_pc AS (SELECT q_id, qe, cid, " +
      s"floor(list_cosine_similarity(qe, ce) * 10000) / 10000 qcos FROM dc_ho CROSS JOIN dc_c$KmIters), " +
      "dc_pr AS (SELECT q_id, qe, cid AS list_id FROM (SELECT q_id, qe, cid, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cid) prn FROM dc_pc) " +
      s"WHERE prn <= $NProbe), " +
      "dc_sc AS (SELECT p.q_id, c.vec_id, " +
      "floor(list_cosine_similarity(p.qe, c.e) * 10000) / 10000 cos " +
      "FROM dc_cap c JOIN dc_pr p USING (list_id))"

  /** [[dcCtes]]' full WITH prelude, for oracles living outside this
    * file (the streaming pair emitter). */
  private[graft] lazy val dcOraclePrefix: String = s"WITH $vCte, $dcCtes "

  /** Seed-aligned retrain chain for the incremental-maintenance audit
    * (→ ii_c$KmIters): SAME seeds as the frozen dc_ chain (from dc_tr)
    * but Lloyd steps over the FULL corpus sample — mirrors
    * [[ivfIncr]]'s retrained centroids exactly. Requires v, dc_tr. */
  private lazy val iiCtes: String = {
    def assignSql(cIn: String, idx: Int, r: String): String =
      s"ii_ka$idx AS (SELECT $r.vec_id, c.cid, " +
        s"floor(list_cosine_similarity($r.e, c.ce) * 10000) / 10000 ccos " +
        s"FROM $r CROSS JOIN $cIn c), " +
        s"ii_kas$idx AS (SELECT vec_id, cid AS list_id FROM (SELECT vec_id, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn " +
        s"FROM ii_ka$idx) WHERE rn = 1)"
    def updateSql(idx: Int): String =
      s"ii_kj$idx AS (SELECT a.list_id, r.d, " +
        s"sum(floor(ii_ks.e[r.d] * ${QScale.toLong}))::BIGINT sv, count(*) n " +
        s"FROM ii_ks JOIN ii_kas$idx a USING (vec_id) " +
        s"CROSS JOIN range(1, ${Dim + 1}) r(d) GROUP BY 1, 2), " +
        s"ii_c${idx + 1} AS (SELECT list_id AS cid, " +
        s"list(sv::DOUBLE / n / ${QScale.toLong}.0 ORDER BY d) ce FROM ii_kj$idx GROUP BY list_id)"
    val train = (0 until KmIters)
      .map(i => assignSql(s"ii_c$i", i, "ii_ks") + ", " + updateSql(i)).mkString(", ")
    "ii_ks AS (SELECT vec_id, e FROM v " +
      "WHERE ('0x'||substr(md5('kms|'||vec_id),1,15))::BIGINT % 4 = 0), " +
      s"ii_c0 AS (SELECT vec_id::INT cid, e ce FROM dc_tr WHERE ${seedSliceSql(NList)}), " +
      train
  }

  /** Frozen (dc_c) and seed-aligned retrained (ii_c) argmax
    * assignments of the held-out slice — ii_af/ii_ar. Requires
    * [[dcCtes]] + [[iiCtes]]. Shared by the q_ivf_incr oracle and the
    * streaming maintenance oracle (q_stream_ivf_incr). */
  private[graft] lazy val iiAssignCtes: String =
    // frozen-centroid assignment of the held-out batch
    "ii_af AS (SELECT vec_id, cid frozen_list FROM (SELECT q_id vec_id, cid, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cid) rn FROM " +
      "(SELECT h.q_id, c.cid, floor(list_cosine_similarity(h.qe, c.ce) * 10000) / 10000 ccos " +
      s"FROM dc_ho h CROSS JOIN dc_c$KmIters c)) WHERE rn = 1), " +
      // seed-aligned retrained assignment of the same batch
      "ii_ar AS (SELECT vec_id, cid retrained_list FROM (SELECT q_id vec_id, cid, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cid) rn FROM " +
      "(SELECT h.q_id, c.cid, floor(list_cosine_similarity(h.qe, c.ce) * 10000) / 10000 ccos " +
      s"FROM dc_ho h CROSS JOIN ii_c$KmIters c)) WHERE rn = 1)"

  /** The full WITH prelude for oracles needing the incremental-IVF
    * assignment pair, for oracles living outside this object. */
  private[graft] lazy val iiOraclePrefix: String =
    s"WITH $vCte, $dcCtes, $iiCtes, $iiAssignCtes "

  /** Full IVF chain → iv_ranked: [[kmChainCtes]] then probes +
    * probe-join scoring. Requires v, qs. */
  private lazy val ivfCtes = {
    kmChainCtes + ", " +
      s"iv_pc AS (SELECT q_id, qe, cid, floor(list_cosine_similarity(qe, ce) * 10000) / 10000 qcos " +
      s"FROM qs CROSS JOIN c$KmIters), " +
      "iv_probes AS (SELECT q_id, qe, cid AS list_id FROM (SELECT q_id, qe, cid, " +
      s"row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cid) prn FROM iv_pc) WHERE prn <= $NProbe), " +
      s"iv_vl AS (SELECT v.vec_id, v.e, a.list_id FROM v JOIN kas$KmIters a USING (vec_id)), " +
      "iv_scored AS (SELECT p.q_id, vl.vec_id, " +
      "floor(list_cosine_similarity(p.qe, vl.e) * 10000) / 10000 cos " +
      "FROM iv_vl vl JOIN iv_probes p USING (list_id) WHERE vl.vec_id <> p.q_id), " +
      rankedSql("iv_ranked", "iv_scored")
  }

  private def topkSelect(ranked: String, k: Int = 10): String =
    s" SELECT q_id, vec_id, cos, rnk FROM $ranked WHERE rnk <= $k"

  /** One subspace of the PQ oracle: slice → sample → seed codebook →
    * PqIters Lloyd steps (exact quantized sums, the [[kmUpdateSql]]
    * discipline) → full encode with the winner's cosine. → pf$m. */
  private def pqChainSql(m: Int): String = {
    val lo = m * PqSub + 1
    val hi = (m + 1) * PqSub
    def assign(cIn: String, rel: String): String =
      s"SELECT $rel.vec_id, c.cid, " +
        s"floor(list_cosine_similarity($rel.e, c.ce) * 10000) / 10000 ccos " +
        s"FROM $rel CROSS JOIN $cIn c"
    val steps = (0 until PqIters).map { i =>
      s"pas${m}_$i AS (SELECT vec_id, cid AS list_id FROM (SELECT vec_id, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn " +
        s"FROM (${assign(s"pc${m}_$i", s"km$m")})) WHERE rn = 1), " +
        s"pj${m}_$i AS (SELECT a.list_id, r.d, " +
        s"sum(floor(km$m.e[r.d] * ${QScale.toLong}))::BIGINT sv, count(*) n " +
        s"FROM km$m JOIN pas${m}_$i a USING (vec_id) " +
        s"CROSS JOIN range(1, ${PqSub + 1}) r(d) GROUP BY 1, 2), " +
        s"pc${m}_${i + 1} AS (SELECT list_id AS cid, " +
        s"list(sv::DOUBLE / n / ${QScale.toLong}.0 ORDER BY d) ce FROM pj${m}_$i GROUP BY list_id)"
    }.mkString(", ")
    s"vm$m AS (SELECT vec_id, e[$lo:$hi] e FROM v), " +
      s"km$m AS (SELECT vec_id, e FROM vm$m " +
      "WHERE ('0x'||substr(md5('kms|'||vec_id),1,15))::BIGINT % 4 = 0), " +
      s"pc${m}_0 AS (SELECT vec_id::INT cid, e ce FROM vm$m WHERE ${seedSliceSql(PqKs)}), " +
      steps + ", " +
      s"pf$m AS (SELECT vec_id, cid::BIGINT code, ccos sub_cos FROM " +
      "(SELECT vec_id, cid, ccos, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY ccos DESC, cid) rn " +
      s"FROM (${assign(s"pc${m}_$PqIters", s"vm$m")})) WHERE rn = 1)"
  }

  val oracleSql: Map[String, String] = Map(
    "q_lof" ->
      (s"WITH $vCte, $kgBandsCte, $kgCtes, " +
        "led AS (SELECT src_id, dst_id, rnk, " +
        "(10000 - CAST(floor(cos * 10000 + 0.5) AS BIGINT))::BIGINT dist4 FROM kg_topk), " +
        "lkd AS (SELECT src_id, max(dist4) kd FROM led GROUP BY 1), " +
        "lrc AS (SELECT e.src_id, e.dst_id, e.rnk, greatest(k.kd, e.dist4) reach4 " +
        "FROM led e JOIN lkd k ON e.dst_id = k.src_id), " +
        "llrd AS (SELECT src_id, (50000.0::DOUBLE) / sum(reach4) lrd FROM lrc " +
        "GROUP BY src_id HAVING count(*) = 5 AND sum(reach4) > 0), " +
        "lnb AS (SELECT e.src_id, e.rnk, l.lrd lrd_o FROM led e " +
        "JOIN llrd l ON e.dst_id = l.src_id), " +
        "lpv AS (SELECT src_id, count(*) m, " +
        "max(CASE WHEN rnk = 1 THEN lrd_o END) l1, " +
        "max(CASE WHEN rnk = 2 THEN lrd_o END) l2, " +
        "max(CASE WHEN rnk = 3 THEN lrd_o END) l3, " +
        "max(CASE WHEN rnk = 4 THEN lrd_o END) l4, " +
        "max(CASE WHEN rnk = 5 THEN lrd_o END) l5 FROM lnb GROUP BY 1), " +
        "llof AS (SELECT p.src_id, " +
        "floor(((l1 + l2 + l3 + l4 + l5) / 5) / l.lrd * 10000) / 10000 lof " +
        "FROM lpv p JOIN llrd l USING (src_id) WHERE m = 5), " +
        "lrk AS (SELECT src_id, lof, row_number() OVER " +
        "(ORDER BY lof DESC, src_id)::BIGINT rnk FROM llof) " +
        "SELECT src_id, lof, rnk FROM lrk WHERE rnk <= 20"),
    "q_nprobe_curve" ->
      (s"WITH $vCte, $qsCte, $kmChainCtes, $exactCtes, " +
        s"npc AS (SELECT q_id, qe, cid, " +
        s"floor(list_cosine_similarity(qe, ce) * 10000) / 10000 qcos " +
        s"FROM qs CROSS JOIN c$KmIters), " +
        "npr AS (SELECT q_id, qe, cid AS list_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cid) prn FROM npc), " +
        "npp AS (SELECT * FROM npr WHERE prn <= 8), " +
        s"nvl AS (SELECT v.vec_id, v.e, a.list_id FROM v JOIN kas$KmIters a USING (vec_id)), " +
        "nsc AS (SELECT p.q_id, vl.vec_id, p.prn, " +
        "floor(list_cosine_similarity(p.qe, vl.e) * 10000) / 10000 cos " +
        "FROM nvl vl JOIN npp p USING (list_id) WHERE vl.vec_id <> p.q_id), " +
        "nsw AS (SELECT q_id, vec_id, cos, np, row_number() OVER " +
        "(PARTITION BY q_id, np ORDER BY cos DESC, vec_id) rnk " +
        "FROM nsc CROSS JOIN (SELECT unnest([1, 2, 4, 8]) np) WHERE prn <= np), " +
        "ntop AS (SELECT q_id, vec_id, np FROM nsw WHERE rnk <= 10), " +
        "ex10 AS (SELECT q_id, vec_id FROM ex_ranked WHERE rnk <= 10) " +
        "SELECT t.q_id, t.np::BIGINT nprobe, count(*)::BIGINT n_ret, " +
        "sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT n_hit, " +
        "floor(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10 * 10000) / 10000 recall " +
        "FROM ntop t LEFT JOIN ex10 e ON t.q_id = e.q_id AND t.vec_id = e.vec_id " +
        "GROUP BY 1, 2"),
    "q_vec_pca" -> pcaOracle(),
    "q_sim_rrf" ->
      (s"WITH $vCte, $qsCte, $bitsBandsCte, $annCtes, $annMpCtes, $ivfCtes, " +
        "mp10 AS (SELECT q_id, vec_id, rnk FROM amp_ranked WHERE rnk <= 10), " +
        "iv10 AS (SELECT q_id, vec_id, rnk FROM iv_ranked WHERE rnk <= 10), " +
        "fused AS (SELECT coalesce(m.q_id, i.q_id) q_id, " +
        "coalesce(m.vec_id, i.vec_id) vec_id, m.rnk rnk_mp, i.rnk rnk_ivf, " +
        "coalesce(1.0::DOUBLE / (60 + m.rnk), 0.0::DOUBLE) + " +
        "coalesce(1.0::DOUBLE / (60 + i.rnk), 0.0::DOUBLE) score " +
        "FROM mp10 m FULL OUTER JOIN iv10 i " +
        "ON m.q_id = i.q_id AND m.vec_id = i.vec_id), " +
        "rr AS (SELECT q_id, vec_id, rnk_mp, rnk_ivf, score, row_number() " +
        "OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) rrf_rnk FROM fused) " +
        "SELECT q_id, vec_id, rnk_mp, rnk_ivf, " +
        "floor(score * 1000000) / 1000000 AS score, rrf_rnk FROM rr WHERE rrf_rnk <= 10"),
    "q_sim_topk_exact" ->
      (s"WITH $vCte, $qsCte, $exactCtes" + topkSelect("ex_ranked")),
    "q_sim_topk_ann" ->
      (s"WITH $vCte, $bitsBandsCte, $annCtes" + topkSelect("an_ranked")),
    "q_sim_topk_ann_mp" ->
      (s"WITH $vCte, $bitsBandsCte, $annCtes, $annMpCtes" + topkSelect("amp_ranked")),
    "q_sim_topk_ivf" ->
      (s"WITH $vCte, $qsCte, $ivfCtes" + topkSelect("iv_ranked")),
    "q_sim_topk_rpt" ->
      (s"WITH $vCte, $rptCtes" + topkSelect("rp_ranked")),
    "q_vec_quantize" ->
      ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings), " +
        "d AS (SELECT vec_id, unnest(e) x FROM v), " +
        "s AS (SELECT vec_id, x, max(abs(x)) OVER (PARTITION BY vec_id) / 127.0 scale FROM d), " +
        "qq AS (SELECT vec_id, scale, " +
        "CASE WHEN scale > 0 THEN greatest(-127, least(127, floor(x / scale + 0.5))) ELSE 0 END q, " +
        "CASE WHEN scale > 0 THEN abs(x - greatest(-127, least(127, floor(x / scale + 0.5))) * scale) ELSE 0 END err " +
        "FROM s) " +
        "SELECT vec_id, floor(max(scale) * 1000000) / 1000000 AS scale, " +
        "floor(max(err) * 1000000) / 1000000 AS max_err, " +
        "sum(CASE WHEN q = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero FROM qq GROUP BY vec_id"),
    "q_vec_pq" ->
      (s"WITH $vCte, " + (0 until PqM).map(pqChainSql).mkString(", ") + " " +
        (0 until PqM).map(m =>
          s"SELECT vec_id, $m::BIGINT AS m, code, sub_cos FROM pf$m")
          .mkString(" UNION ALL ")),
    "q_vec_dq" ->
      ("WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings), " +
        "g AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) / 127.0 AS gs " +
        "FROM v), " +
        "p AS (SELECT label, len(e)::BIGINT AS dims, " +
        "(list_max(list_transform(e, x -> abs(x))) = 0) AS is_zero, " +
        "CASE WHEN gs > 0 THEN list_sum(list_transform(e, x -> " +
        "greatest(-127, least(127, floor(x / gs + 0.5)))::BIGINT * " +
        "greatest(-127, least(127, floor(x / gs + 0.5)))::BIGINT)) " +
        "ELSE 0 END::BIGINT AS qn2 FROM v CROSS JOIN g) " +
        "SELECT label::BIGINT AS label, count(*) AS n_vecs, " +
        "min(dims) AS min_dims, max(dims) AS max_dims, " +
        "sum(CASE WHEN is_zero THEN 1 ELSE 0 END)::BIGINT AS n_zero_vecs, " +
        "min(qn2) AS min_qn2, max(qn2) AS max_qn2, sum(qn2)::BIGINT AS sum_qn2 " +
        "FROM p GROUP BY 1"),
    "q_vec_drift" ->
      ("WITH dv AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings), " +
        "g AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) / 127.0 AS gs " +
        "FROM dv), " +
        "dd AS (SELECT label, unnest(range(1, len(e) + 1)) AS i, e, gs " +
        "FROM dv CROSS JOIN g), " +
        "qc AS (SELECT label, i - 1 AS i, CASE WHEN gs > 0 THEN " +
        "CAST(greatest(-127, least(127, floor(e[i] / gs + 0.5))) AS BIGINT) " +
        "ELSE 0 END AS qv FROM dd), " +
        "sm AS (SELECT label, i, sum(qv)::BIGINT AS s FROM qc GROUP BY 1, 2), " +
        "nn2 AS (SELECT label, sum(s * s)::BIGINT AS n2 FROM sm GROUP BY 1), " +
        "cn AS (SELECT label, count(*) AS n FROM dv GROUP BY 1), " +
        "dt AS (SELECT a.label AS label_a, b.label AS label_b, " +
        "sum(a.s * b.s)::BIGINT AS dot FROM sm a JOIN sm b " +
        "ON a.i = b.i AND a.label < b.label GROUP BY 1, 2) " +
        "SELECT label_a::BIGINT AS label_a, label_b::BIGINT AS label_b, " +
        "ca.n AS n_a, cb.n AS n_b, " +
        "floor(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) * 10000) " +
        "/ 10000 AS cos " +
        "FROM dt JOIN nn2 na ON label_a = na.label JOIN nn2 nb ON label_b = nb.label " +
        "JOIN cn ca ON label_a = ca.label JOIN cn cb ON label_b = cb.label"),
    "q_sim_topk_bin" ->
      (s"WITH $vCte, " +
        // DuckDB checks 1<<63 overflow; Spark's shiftleft(1L, 63) is
        // Java semantics (= Long.MinValue) — spell the top bit out
        "bn_pk AS (SELECT vec_id, e, list_sum(list_transform(range(1, len(e) + 1), " +
        "i -> CASE WHEN e[i] > 0 THEN " +
        "CASE WHEN i = 64 THEN (-9223372036854775807 - 1)::BIGINT " +
        "ELSE (1::BIGINT << (i - 1)) END ELSE 0 END))::BIGINT w FROM v), " +
        s"bn_qs AS (SELECT vec_id q_id, e qe, w qw FROM bn_pk WHERE vec_id IN $idsSql), " +
        "bn_sc AS (SELECT q_id, bn_pk.vec_id, bit_count(xor(w, qw))::BIGINT hamming, " +
        "floor(list_cosine_similarity(qe, e) * 10000) / 10000 cos " +
        "FROM bn_pk CROSS JOIN bn_qs WHERE bn_pk.vec_id <> q_id), " +
        "bn_rk AS (SELECT *, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY hamming, vec_id) rnk FROM bn_sc) " +
        "SELECT q_id, vec_id, hamming, cos, rnk FROM bn_rk WHERE rnk <= 10"),
    "q_sim_topk_sq8" ->
      (s"WITH $vCte, " +
        "sq_sc AS (SELECT vec_id, e, " +
        "list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v), " +
        "sq_qd AS (SELECT vec_id, list_transform(range(1, len(e) + 1), " +
        "i -> CASE WHEN scale > 0 THEN " +
        "CAST(greatest(-127, least(127, floor(e[i] / scale + 0.5))) AS BIGINT) " +
        "ELSE 0 END) AS q FROM sq_sc), " +
        "sq_nn AS (SELECT vec_id, q, " +
        "list_sum(list_transform(q, x -> x * x))::BIGINT AS n2 FROM sq_qd), " +
        s"sq_qs AS (SELECT vec_id q_id, q qq, n2 qn2 FROM sq_nn WHERE vec_id IN $idsSql), " +
        "sq_dot AS (SELECT q_id, sq_nn.vec_id, " +
        "list_sum(list_transform(range(1, len(qq) + 1), i -> qq[i] * sq_nn.q[i]))::BIGINT " +
        "AS dotq, n2, qn2 FROM sq_nn CROSS JOIN sq_qs WHERE sq_nn.vec_id <> q_id), " +
        "sq_rk AS (SELECT q_id, vec_id, dotq, " +
        "CASE WHEN n2 > 0 AND qn2 > 0 THEN " +
        "floor(dotq / sqrt((n2 * qn2)::DOUBLE) * 10000) / 10000 END AS cos, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY " +
        "CASE WHEN n2 > 0 AND qn2 > 0 THEN " +
        "floor(dotq / sqrt((n2 * qn2)::DOUBLE) * 10000) / 10000 END DESC, vec_id) rnk " +
        "FROM sq_dot) " +
        "SELECT q_id, vec_id, dotq, cos, rnk FROM sq_rk WHERE rnk <= 10"),
    "q_sim_topk_adc" ->
      (s"WITH $vCte, " + (0 until PqM).map(pqChainSql).mkString(", ") + ", " +
        (0 until PqM).map { m =>
          s"lut$m AS (SELECT vec_id q_id, cid::BIGINT code, " +
            s"CAST(floor(list_dot_product(e, ce) * ${QScale.toLong}) AS BIGINT) pdot " +
            s"FROM vm$m CROSS JOIN pc${m}_$PqIters WHERE vec_id IN $idsSql), " +
            s"part$m AS (SELECT l.q_id, f.vec_id, l.pdot FROM pf$m f " +
            s"JOIN lut$m l ON f.code = l.code)"
        }.mkString(", ") + ", " +
        "allp AS (" + (0 until PqM).map(m => s"SELECT * FROM part$m")
          .mkString(" UNION ALL ") + "), " +
        "adc_sc AS (SELECT q_id, vec_id, sum(pdot)::BIGINT dot_scaled FROM allp " +
        "WHERE vec_id <> q_id GROUP BY 1, 2), " +
        "adc_rk AS (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dot_scaled DESC, vec_id) rnk FROM adc_sc) " +
        "SELECT q_id, vec_id, dot_scaled, " +
        s"floor(dot_scaled::DOUBLE / ${QScale.toLong} * 10000) / 10000 AS adot, rnk " +
        "FROM adc_rk WHERE rnk <= 10"),
    "q_sim_topk_ivfpq" ->
      (s"WITH $vCte, $qsCte, $ivfCtes, " +
        (0 until PqM).map(pqChainSql).mkString(", ") + ", " +
        // candidate set: probed inverted lists, self excluded
        s"ia_cand AS (SELECT p.q_id, a.vec_id FROM kas$KmIters a " +
        "JOIN iv_probes p USING (list_id) WHERE a.vec_id <> p.q_id), " +
        (0 until PqM).map { m =>
          s"ia_lut$m AS (SELECT vec_id q_id, cid::BIGINT code, " +
            s"CAST(floor(list_dot_product(e, ce) * ${QScale.toLong}) AS BIGINT) pdot " +
            s"FROM vm$m CROSS JOIN pc${m}_$PqIters WHERE vec_id IN $idsSql), " +
            s"ia_part$m AS (SELECT c.q_id, c.vec_id, l.pdot FROM ia_cand c " +
            s"JOIN pf$m f ON f.vec_id = c.vec_id " +
            s"JOIN ia_lut$m l ON l.code = f.code AND l.q_id = c.q_id)"
        }.mkString(", ") + ", " +
        "ia_all AS (" + (0 until PqM).map(m => s"SELECT * FROM ia_part$m")
          .mkString(" UNION ALL ") + "), " +
        "ia_sc AS (SELECT q_id, vec_id, sum(pdot)::BIGINT dot_scaled " +
        "FROM ia_all GROUP BY 1, 2), " +
        "ia_rr AS (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dot_scaled DESC, vec_id) arnk FROM ia_sc), " +
        "ia_ex AS (SELECT r.q_id, r.vec_id, r.dot_scaled, " +
        "floor(list_cosine_similarity(qs.qe, v.e) * 10000) / 10000 cos " +
        "FROM ia_rr r JOIN qs ON qs.q_id = r.q_id JOIN v ON v.vec_id = r.vec_id " +
        "WHERE r.arnk <= 40), " +
        "ia_rk AS (SELECT q_id, vec_id, dot_scaled, cos, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, vec_id) rnk FROM ia_ex) " +
        "SELECT q_id, vec_id, dot_scaled, cos, rnk FROM ia_rk WHERE rnk <= 10"),
    "q_vec_project" ->
      ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings), " +
        "el AS (SELECT vec_id, unnest(e) x, unnest(range(len(e))) i FROM v), " +
        "d AS (SELECT unnest(range(8)) j), " +
        "p AS (SELECT vec_id, j, sum(x * (CASE WHEN " +
        "('0x' || substr(md5('proj|' || i || '_' || j), 1, 15))::BIGINT % 2 = 0 " +
        "THEN 1.0 ELSE -1.0 END)) p FROM el CROSS JOIN d GROUP BY 1, 2) " +
        "SELECT vec_id, j, floor(p * 10000) / 10000 AS p FROM p"),
    "q_calibration" ->
      (s"WITH $vCte, " +
        "cq AS (SELECT v.e AS qe, emb.label AS ref_label FROM v " +
        "JOIN embeddings emb ON emb.vec_id = v.vec_id WHERE v.vec_id = 0), " +
        "sc AS (SELECT v.vec_id, " +
        "floor(list_cosine_similarity(v.e, cq.qe) * 10000) / 10000 AS s, " +
        "CASE WHEN emb.label = cq.ref_label THEN 1 ELSE 0 END AS pos " +
        "FROM v JOIN embeddings emb ON emb.vec_id = v.vec_id " +
        "CROSS JOIN cq WHERE v.vec_id <> 0), " +
        "sb AS (SELECT vec_id, s, pos, " +
        "CAST(floor(s * 10000) AS BIGINT) AS si, " +
        "least(CAST(floor((s + 1) * 5) AS BIGINT), 9) AS bin FROM sc), " +
        "tot AS (SELECT count(*) AS n_total FROM sb), " +
        "g AS (SELECT bin, count(*) AS n, sum(si)::BIGINT AS ssi, " +
        "sum(pos)::BIGINT AS n_pos FROM sb GROUP BY 1), " +
        "x AS (SELECT bin, n, n_pos, " +
        "(ssi::DOUBLE / n / 10000 + 1) / 2 AS conf, " +
        "n_pos::DOUBLE / n AS pos_rate, n_total FROM g CROSS JOIN tot) " +
        "SELECT bin, n, n_pos, floor(conf * 10000) / 10000 AS conf, " +
        "floor(pos_rate * 10000) / 10000 AS pos_rate, " +
        "floor(abs(pos_rate - conf) * 10000) / 10000 AS gap, " +
        "floor(abs(pos_rate - conf) * n / n_total * 1000000) / 1000000 AS ece_term " +
        "FROM x"),
    "q_knn_graph" ->
      (s"WITH $vCte, $kgBandsCte, $kgCtes " +
        "SELECT f.src_id, f.dst_id, f.cos, f.rnk, " +
        "(r.src_id IS NOT NULL) AS mutual FROM kg_topk f " +
        "LEFT JOIN kg_topk r ON f.src_id = r.dst_id AND f.dst_id = r.src_id"),
    "q_knn_refine" ->
      (s"WITH $vCte, $kgBandsCte, $kgCtes, " +
        // general neighborhood: own top-k plus reverse edges capped at
        // k by cosine rank (the NN-descent reverse-sample bound)
        "nd_rev AS (SELECT dst_id u, src_id nb, cos, row_number() OVER " +
        "(PARTITION BY dst_id ORDER BY cos DESC, src_id) rr FROM kg_topk), " +
        "nd_und AS (SELECT DISTINCT u, nb, cos FROM (" +
        "SELECT src_id u, dst_id nb, cos FROM kg_topk " +
        "UNION ALL SELECT u, nb, cos FROM nd_rev WHERE rr <= 5)), " +
        "nd_cand AS (SELECT DISTINCT l.u a_id, r.nb b_id FROM nd_und l " +
        "JOIN nd_und r ON l.nb = r.u WHERE l.u < r.nb), " +
        "nd_sc AS (SELECT a_id, b_id, floor(list_cosine_similarity(" +
        "(SELECT e FROM v WHERE v.vec_id = nd_cand.a_id), " +
        "(SELECT e FROM v WHERE v.vec_id = nd_cand.b_id)) * 10000) / 10000 cos " +
        "FROM nd_cand), " +
        "nd_dir AS (SELECT DISTINCT src_id, dst_id, cos FROM (" +
        "SELECT a_id src_id, b_id dst_id, cos FROM nd_sc " +
        "UNION ALL SELECT b_id, a_id, cos FROM nd_sc " +
        "UNION ALL SELECT src_id, dst_id, cos FROM kg_topk)), " +
        "nd_rk AS (SELECT src_id, dst_id, cos, row_number() OVER " +
        "(PARTITION BY src_id ORDER BY cos DESC, dst_id)::BIGINT rnk " +
        "FROM nd_dir QUALIFY rnk <= 5) " +
        "SELECT f.src_id, f.dst_id, f.cos, f.rnk, " +
        "(b.src_id IS NULL) AS added FROM nd_rk f LEFT JOIN kg_topk b " +
        "ON f.src_id = b.src_id AND f.dst_id = b.dst_id"),
    "q_sim_mmr" -> mmrOracle,
    "q_ndcg" ->
      (s"WITH $vCte, $qsCte, $exactCtes, " +
        "ndl AS (SELECT i, CAST(floor(1000000 / log2(i + 1)) AS BIGINT) w, " +
        "sum(CAST(floor(1000000 / log2(i + 1)) AS BIGINT)) OVER (ORDER BY i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT idcg_scaled " +
        "FROM (SELECT unnest(range(1, 11)) i)), " +
        "ndb AS (SELECT vec_id, label::BIGINT AS label FROM embeddings), " +
        "nds AS (SELECT e.q_id, ql.label q_label, " +
        "CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END rel, l.w " +
        "FROM ex_ranked e JOIN ndb ql ON e.q_id = ql.vec_id " +
        "JOIN ndb nl ON e.vec_id = nl.vec_id JOIN ndl l ON l.i = e.rnk " +
        "WHERE e.rnk <= 10), " +
        "ndq AS (SELECT q_id, q_label, count(*) k_eff, sum(rel)::BIGINT n_same, " +
        "sum(rel * w)::BIGINT dcg_scaled FROM nds GROUP BY 1, 2) " +
        "SELECT q_id, q_label, k_eff, n_same, dcg_scaled, " +
        "CASE WHEN n_same > 0 THEN floor(dcg_scaled / l2.idcg_scaled * 10000) / 10000 END " +
        "AS ndcg FROM ndq LEFT JOIN ndl l2 ON l2.i = ndq.n_same"),
    "q_hybrid_search" ->
      (s"WITH $vCte, $bitsBandsCte, $annCtes, " +
        "ht AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents), " +
        "htf AS (SELECT doc_id, t, count(*) tf FROM ht GROUP BY 1, 2), " +
        "hdf AS (SELECT t, count(DISTINCT doc_id) df FROM ht GROUP BY 1), " +
        "hlen AS (SELECT doc_id, count(*) len FROM ht GROUP BY 1), " +
        "hst AS (SELECT count(*) nd, sum(len)::BIGINT tt FROM hlen), " +
        "hqt AS (SELECT doc_id AS q_id, t, df FROM (SELECT f.doc_id, f.t, d.df, " +
        "row_number() OVER (PARTITION BY f.doc_id ORDER BY d.df, f.t) qrnk " +
        s"FROM htf f JOIN hdf d USING (t) WHERE f.doc_id IN $idsSql) WHERE qrnk <= 5), " +
        "hsc AS (SELECT q.q_id, f.doc_id, " +
        "CAST(floor((ln(1 + (nd - q.df + 0.5) / (q.df + 0.5)) * (f.tf * 2.2) / " +
        "(f.tf + 1.2 * (0.25 + 0.75 * (l.len * nd / tt)))) * 1000000) AS BIGINT) term_scaled " +
        "FROM htf f JOIN hqt q USING (t) JOIN hlen l ON l.doc_id = f.doc_id " +
        "CROSS JOIN hst WHERE f.doc_id <> q.q_id), " +
        "hts AS (SELECT q_id, doc_id, sum(term_scaled)::BIGINT t_scaled FROM hsc GROUP BY 1, 2), " +
        "htr AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY t_scaled DESC, doc_id)::BIGINT rnk_text FROM hts QUALIFY rnk_text <= 10), " +
        "hvr AS (SELECT q_id, vec_id AS doc_id, rnk AS rnk_vec FROM an_ranked WHERE rnk <= 10), " +
        "hf AS (SELECT coalesce(t.q_id, v.q_id) q_id, coalesce(t.doc_id, v.doc_id) doc_id, " +
        "t.rnk_text, v.rnk_vec, " +
        "coalesce(1.0 / (60 + t.rnk_text), 0) + coalesce(1.0 / (60 + v.rnk_vec), 0) score_raw " +
        "FROM htr t FULL OUTER JOIN hvr v ON t.q_id = v.q_id AND t.doc_id = v.doc_id) " +
        "SELECT q_id, doc_id, rnk_text, rnk_vec, " +
        "floor(score_raw * 1000000) / 1000000 AS score, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY score_raw DESC, doc_id)::BIGINT " +
        "AS hybrid_rnk FROM hf QUALIFY hybrid_rnk <= 10"),
    "q_hard_negatives" ->
      (s"WITH $vCte, $bitsBandsCte, $annCtes, " +
        "hn_lbl AS (SELECT vec_id, label::BIGINT AS label FROM embeddings), " +
        "hn AS (SELECT s.q_id, ql.label q_label, s.vec_id, nl.label neg_label, s.cos " +
        "FROM an_scored s JOIN hn_lbl ql ON s.q_id = ql.vec_id " +
        "JOIN hn_lbl nl ON s.vec_id = nl.vec_id WHERE ql.label <> nl.label), " +
        "hn_r AS (SELECT *, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY cos DESC, vec_id)::BIGINT rnk FROM hn) " +
        "SELECT q_id, q_label, vec_id, neg_label, cos, rnk FROM hn_r WHERE rnk <= 10"),
    "q_sim_label_recall" ->
      (s"WITH $vCte, $qsCte, $exactCtes, " +
        "lr_lbl AS (SELECT vec_id, label::BIGINT AS label FROM embeddings), " +
        "lr_top AS (SELECT q_id, vec_id FROM ex_ranked WHERE rnk <= 10) " +
        "SELECT t.q_id, ql.label AS q_label, count(*) AS k_eff, " +
        "sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)::BIGINT AS n_same, " +
        "floor(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)::BIGINT " +
        "/ count(*) * 10000) / 10000 AS label_precision " +
        "FROM lr_top t JOIN lr_lbl ql ON t.q_id = ql.vec_id " +
        "JOIN lr_lbl nl ON t.vec_id = nl.vec_id GROUP BY 1, 2"),
    "q_label_noise" ->
      (s"WITH $vCte, $kgBandsCte, $kgCtes, " +
        "ln_lbl AS (SELECT vec_id, label::BIGINT AS label FROM embeddings), " +
        "ln_votes AS (SELECT src_id, l.label AS dst_label, count(*) AS votes " +
        "FROM kg_topk t JOIN ln_lbl l ON t.dst_id = l.vec_id GROUP BY 1, 2), " +
        "ln_pred AS (SELECT src_id, dst_label AS pred_label, votes, " +
        "row_number() OVER (PARTITION BY src_id ORDER BY votes DESC, dst_label) AS r " +
        "FROM ln_votes QUALIFY r = 1), " +
        "ln_keff AS (SELECT src_id, count(*) AS k_eff FROM kg_topk GROUP BY 1) " +
        "SELECT p.src_id AS vec_id, l.label, p.pred_label, p.votes, k.k_eff, " +
        "floor(p.votes / k.k_eff * 10000) / 10000 AS vote_share " +
        "FROM ln_pred p JOIN ln_keff k USING (src_id) " +
        "JOIN ln_lbl l ON p.src_id = l.vec_id WHERE l.label <> p.pred_label"),
    "q_vec_outliers" ->
      ("WITH vo_v AS (SELECT vec_id, label::BIGINT AS label, embedding::DOUBLE[] AS e " +
        "FROM embeddings), " +
        "vo_g AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) / 127.0 AS gs " +
        "FROM vo_v), " +
        "vo_q AS (SELECT vec_id, label, d, CASE WHEN gs > 0 THEN " +
        "CAST(greatest(-127, least(127, floor(e[d] / gs + 0.5))) AS BIGINT) " +
        "ELSE 0 END AS qx FROM (SELECT vec_id, label, e, gs, " +
        "unnest(range(1, len(e) + 1)) AS d FROM vo_v CROSS JOIN vo_g)), " +
        "vo_c AS (SELECT label, d, sum(qx)::BIGINT AS sv, count(*) AS n " +
        "FROM vo_q GROUP BY 1, 2), " +
        "vo_pv AS (SELECT vec_id, q.label, " +
        "sum((qx * n - sv) * (qx * n - sv))::BIGINT AS d2n2, max(n) AS n " +
        "FROM vo_q q JOIN vo_c c ON q.label = c.label AND q.d = c.d GROUP BY 1, 2), " +
        "vo_r AS (SELECT label, vec_id, d2n2, n, row_number() OVER " +
        "(PARTITION BY label ORDER BY d2n2 DESC, vec_id)::BIGINT AS rnk FROM vo_pv " +
        "QUALIFY rnk <= 5) " +
        "SELECT label, vec_id, d2n2, n, " +
        "floor(sqrt(d2n2::DOUBLE) / n * 10000) / 10000 AS dist_q, rnk FROM vo_r"),
    "q_sim_neardup" ->
      (s"WITH $vCte, $kgBandsCte" + ", cand AS (SELECT DISTINCT x.vec_id a_id, y.vec_id b_id " +
        "FROM kg_bands x JOIN kg_bands y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id), " +
        "scored AS (SELECT a_id, b_id, floor(list_cosine_similarity(" +
        "(SELECT e FROM v WHERE v.vec_id = cand.a_id), " +
        "(SELECT e FROM v WHERE v.vec_id = cand.b_id)) * 10000) / 10000 cos FROM cand) " +
        "SELECT a_id, b_id, cos FROM scored WHERE cos >= 0.4"),
    "q_ivf_stats" ->
      (s"WITH $vCte, $kmChainCtes, " +
        "iv_sc AS (SELECT v.vec_id, c.cid::BIGINT cid, " +
        s"CAST(floor(list_cosine_similarity(v.e, c.ce) * 10000) AS BIGINT) cosq " +
        s"FROM v CROSS JOIN c$KmIters c), " +
        "iv_rk AS (SELECT vec_id, cid, cosq, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY cosq DESC, cid) rn FROM iv_sc), " +
        "iv_t AS (SELECT vec_id, max(CASE WHEN rn = 1 THEN cid END) list_id, " +
        "max(CASE WHEN rn = 1 THEN cosq END) own_q, " +
        "max(CASE WHEN rn = 2 THEN cosq END) next_q FROM iv_rk WHERE rn <= 2 GROUP BY 1) " +
        "SELECT list_id, count(*) n, sum(own_q)::BIGINT sum_own_q, " +
        "min(own_q) min_own_q, max(own_q) max_own_q, " +
        "sum(own_q - next_q)::BIGINT sum_margin_q, " +
        "floor(sum(own_q)::DOUBLE / count(*) / 10000 * 10000) / 10000 mean_cos, " +
        "floor(sum(own_q - next_q)::DOUBLE / count(*) / 10000 * 10000) / 10000 mean_margin " +
        "FROM iv_t GROUP BY 1"),
    "q_sim_decontam" ->
      (s"WITH $vCte, $dcCtes " +
        "SELECT q_id, min(vec_id) AS train_match, count(*) AS n_matches, " +
        "max(cos) AS best_cos FROM dc_sc WHERE cos >= 0.4 GROUP BY q_id"),
    "q_knn_label_eval" ->
      (s"WITH $vCte, $dcCtes, " +
        "kl_rk AS (SELECT q_id, vec_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, vec_id) rnk FROM dc_sc), " +
        "kl_vt AS (SELECT q_id, emb.label::BIGINT n_label, count(*) cnt " +
        "FROM kl_rk JOIN embeddings emb ON emb.vec_id = kl_rk.vec_id " +
        "WHERE rnk <= 5 GROUP BY 1, 2), " +
        "kl_pred AS (SELECT q_id, n_label pred FROM (SELECT q_id, n_label, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cnt DESC, n_label) rn " +
        "FROM kl_vt) WHERE rn = 1) " +
        // LEFT join from the full held-out slice: candidate-less
        // queries stay in the denominator (pred NULL → incorrect)
        "SELECT emb.label::BIGINT true_label, count(*) n, " +
        "sum(CASE WHEN pred = emb.label THEN 1 ELSE 0 END)::BIGINT n_correct, " +
        "sum(CASE WHEN pred IS NULL THEN 1 ELSE 0 END)::BIGINT n_unclassified, " +
        "floor(sum(CASE WHEN pred = emb.label THEN 1 ELSE 0 END)::DOUBLE / count(*) " +
        "* 10000) / 10000 accuracy " +
        "FROM dc_ho h JOIN embeddings emb ON emb.vec_id = h.q_id " +
        "LEFT JOIN kl_pred p ON p.q_id = h.q_id GROUP BY 1"),
    "q_ivf_incr" ->
      (s"WITH $vCte, $dcCtes, $iiCtes, $iiAssignCtes, " +
        s"ii_base AS (SELECT list_id, count(*) n_base FROM dc_kas$KmIters GROUP BY 1), " +
        "ii_mv AS (SELECT f.frozen_list list_id, count(*) n_added, " +
        "sum(CASE WHEN f.frozen_list <> r.retrained_list THEN 1 ELSE 0 END)::BIGINT n_would_move " +
        "FROM ii_af f JOIN ii_ar r USING (vec_id) GROUP BY 1) " +
        "SELECT coalesce(b.list_id, m.list_id) list_id, coalesce(n_base, 0) n_base, " +
        "coalesce(n_added, 0) n_added, coalesce(n_base, 0) + coalesce(n_added, 0) n_new, " +
        "coalesce(n_would_move, 0) n_would_move " +
        "FROM ii_base b FULL OUTER JOIN ii_mv m ON b.list_id = m.list_id"),
    "q_sim_filter_topk" ->
      (s"WITH $vCte, $qsCte, $ivfCtes, " +
        s"fq AS (SELECT v.vec_id q_id, v.e qe, emb.label qlabel FROM v " +
        s"JOIN embeddings emb ON emb.vec_id = v.vec_id WHERE v.vec_id IN $idsSql), " +
        "fvl AS (SELECT v.vec_id, v.e, emb.label FROM v " +
        "JOIN embeddings emb ON emb.vec_id = v.vec_id), " +
        "fex AS (SELECT q_id, vec_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, vec_id) rnk FROM " +
        "(SELECT fq.q_id, fvl.vec_id, " +
        "floor(list_cosine_similarity(fq.qe, fvl.e) * 10000) / 10000 cos " +
        "FROM fvl JOIN fq ON fvl.label = fq.qlabel AND fvl.vec_id <> fq.q_id)), " +
        "fpost AS (SELECT q_id, vec_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, vec_id) rnk FROM " +
        "(SELECT s.q_id, s.vec_id, s.cos FROM iv_scored s " +
        "JOIN embeddings emb ON emb.vec_id = s.vec_id " +
        "JOIN fq ON fq.q_id = s.q_id WHERE emb.label = fq.qlabel)), " +
        "fnf AS (SELECT fq.q_id, count(*) n_filtered FROM fvl " +
        "JOIN fq ON fvl.label = fq.qlabel AND fvl.vec_id <> fq.q_id GROUP BY 1), " +
        "fne AS (SELECT q_id, count(*) n_exact FROM fex WHERE rnk <= 10 GROUP BY 1), " +
        "fnp AS (SELECT q_id, count(*) n_post FROM fpost WHERE rnk <= 10 GROUP BY 1), " +
        "fhit AS (SELECT e.q_id, count(*) hits FROM " +
        "(SELECT q_id, vec_id FROM fex WHERE rnk <= 10) e JOIN " +
        "(SELECT q_id, vec_id FROM fpost WHERE rnk <= 10) p USING (q_id, vec_id) GROUP BY 1) " +
        "SELECT f.q_id, n_filtered, n_exact, coalesce(n_post, 0) n_post, " +
        "coalesce(hits, 0) hits, " +
        "floor(coalesce(hits, 0)::DOUBLE / n_exact * 10000) / 10000 recall " +
        "FROM fnf f JOIN fne USING (q_id) LEFT JOIN fnp USING (q_id) " +
        "LEFT JOIN fhit USING (q_id)"),
    "q_dedup_semantic" ->
      (s"WITH $vCte, $kmChainCtes, " +
        s"sd_vl AS (SELECT v.vec_id, v.e, a.list_id FROM v JOIN kas$KmIters a USING (vec_id)), " +
        "sd_pr AS (SELECT y.vec_id vec_id, x.vec_id a_id, " +
        "floor(list_cosine_similarity(x.e, y.e) * 10000) / 10000 cos " +
        "FROM sd_vl x JOIN sd_vl y ON x.list_id = y.list_id AND x.vec_id < y.vec_id) " +
        "SELECT vec_id, min(a_id) AS dup_of, count(*) AS n_dups, max(cos) AS best_cos " +
        "FROM sd_pr WHERE cos >= 0.4 GROUP BY vec_id"),
    "q_recall_curve" ->
      (s"WITH $vCte, $qsCte, $bitsBandsCte, $exactCtes, $annCtes, $annMpCtes, " +
        "rc_ks AS (SELECT unnest([1, 5, 10]) AS k), " +
        "rc AS (SELECT e.q_id, kk.k, " +
        "sum(CASE WHEN a.rnk IS NOT NULL AND a.rnk <= kk.k THEN 1 ELSE 0 END)::BIGINT n_hit " +
        "FROM ex_ranked e CROSS JOIN rc_ks kk " +
        "LEFT JOIN amp_ranked a ON a.q_id = e.q_id AND a.vec_id = e.vec_id " +
        "WHERE e.rnk <= kk.k GROUP BY 1, 2) " +
        "SELECT q_id, k::BIGINT AS k, n_hit, " +
        "floor(n_hit / k * 10000) / 10000 AS recall FROM rc"),
    "q_vec_matryoshka" ->
      (s"WITH $vCte, $qsCte, " +
        "mpd AS (SELECT unnest([8, 16, 32, 64])::BIGINT AS d), " +
        "mps AS (SELECT q_id, vec_id, d, " +
        "floor(list_cosine_similarity(list_slice(qe, 1, d), list_slice(e, 1, d)) " +
        "* 10000) / 10000 AS cos " +
        "FROM v CROSS JOIN qs CROSS JOIN mpd WHERE vec_id <> q_id), " +
        "mpr AS (SELECT q_id, vec_id, d, row_number() OVER " +
        "(PARTITION BY q_id, d ORDER BY cos DESC, vec_id) AS rnk FROM mps), " +
        "mpk AS (SELECT d, q_id, vec_id FROM mpr WHERE rnk <= 10), " +
        "mpt AS (SELECT q_id, vec_id FROM mpk WHERE d = 64), " +
        "mpx AS (SELECT d, q_id, vec_id FROM mpt CROSS JOIN mpd) " +
        "SELECT x.d, x.q_id, " +
        "sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 10 AS recall " +
        "FROM mpx x LEFT JOIN mpk a USING (d, q_id, vec_id) GROUP BY x.d, x.q_id"),
    "q_sim_recall" ->
      (s"WITH $vCte, $qsCte, $bitsBandsCte, $exactCtes, $annCtes, $annMpCtes, $ivfCtes, " +
        rptCtes + ", " +
        "ex10 AS (SELECT q_id, vec_id FROM ex_ranked WHERE rnk <= 10), " +
        "an10 AS (SELECT q_id, vec_id FROM an_ranked WHERE rnk <= 10), " +
        "am10 AS (SELECT q_id, vec_id FROM amp_ranked WHERE rnk <= 10), " +
        "iv10 AS (SELECT q_id, vec_id FROM iv_ranked WHERE rnk <= 10), " +
        "rp10 AS (SELECT q_id, vec_id FROM rp_ranked WHERE rnk <= 10) " +
        "SELECT 'ann' AS method, e.q_id, " +
        "sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 10 AS recall " +
        "FROM ex10 e LEFT JOIN an10 a USING (q_id, vec_id) GROUP BY e.q_id " +
        "UNION ALL " +
        "SELECT 'ann_mp' AS method, e.q_id, " +
        "sum(CASE WHEN m.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 10 AS recall " +
        "FROM ex10 e LEFT JOIN am10 m USING (q_id, vec_id) GROUP BY e.q_id " +
        "UNION ALL " +
        "SELECT 'ivf' AS method, e.q_id, " +
        "sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 10 AS recall " +
        "FROM ex10 e LEFT JOIN iv10 i USING (q_id, vec_id) GROUP BY e.q_id " +
        "UNION ALL " +
        "SELECT 'rpt' AS method, e.q_id, " +
        "sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 10 AS recall " +
        "FROM ex10 e LEFT JOIN rp10 r USING (q_id, vec_id) GROUP BY e.q_id"))
}
