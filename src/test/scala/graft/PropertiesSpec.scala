package graft

import graft.operators.{Dedup, ScaleOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck algebraic properties of the operator library
  * (SURVEY.md §5.3): laws that must hold for ANY input, checked over
  * generated tables (deterministic seeds, 5 cases per law). */
class PropertiesSpec extends SparkSpec {

  /** Deterministic ScalaCheck sampling: one sample per seed. */
  private def forAll[T](gen: Gen[T])(body: T => Unit): Unit =
    (1 to 5).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator exhausted at seed $i")))
    }

  private def forAll2[T](gen: Gen[T])(body: (T, T) => Unit): Unit =
    (1 to 5).foreach { i =>
      val a = gen.apply(Gen.Parameters.default, Seed(100L + i)).get
      val b = gen.apply(Gen.Parameters.default, Seed(200L + i)).get
      body(a, b)
    }

  private val rowGen = Gen.listOfN(60, for {
    id <- Gen.choose(0L, 30L)
    user <- Gen.choose(1L, 6L)
    kind <- Gen.oneOf("purchase", "view", "error")
    value <- Gen.choose(0, 10000).map(_ / 100.0)
  } yield (id, user, kind, value))

  private def toDF(rows: List[(Long, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "value")
  }

  test("dedup is idempotent: dropDuplicates twice == once") {
    forAll(rowGen) { rows =>
      val df = toDF(rows)
      // dropDuplicates keeps an ARBITRARY row per key, so pin the first
      // result with cache() before comparing — re-evaluation may pick a
      // different representative (documented semantics, not a bug)
      val once = df.dropDuplicates("event_id").cache()
      val twice = once.dropDuplicates("event_id")
      assert(once.count() === twice.count())
      assert(once.exceptAll(twice).count() === 0)
    }
  }

  test("filter distributes over union") {
    forAll2(rowGen) { (ra, rb) =>
      val (a, b) = (toDF(ra), toDF(rb))
      val p = col("value") > 50.0 && col("event_type") =!= "error"
      val lhs = a.unionByName(b).filter(p)
      val rhs = a.filter(p).unionByName(b.filter(p))
      assert(lhs.exceptAll(rhs).count() === 0 && rhs.exceptAll(lhs).count() === 0)
    }
  }

  test("window top-1 per group agrees with groupBy max") {
    forAll(rowGen) { rows =>
      val df = toDF(rows)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      val top1 = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
        .select(col("user_id"), col("value").as("max_value"))
      val agg = df.groupBy(col("user_id")).agg(max(col("value")).as("max_value"))
      assert(top1.exceptAll(agg).count() === 0 && agg.exceptAll(top1).count() === 0)
    }
  }

  test("salted aggregation equals direct aggregation for any data") {
    forAll(rowGen) { rows =>
      val df = toDF(rows)
      val direct = df.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n"), round(sum(col("value")), 2).as("sum_value"))
      val salted = ScaleOps.saltedUserStats(df, salts = 4)
      assert(salted.exceptAll(direct).count() === 0 && direct.exceptAll(salted).count() === 0)
    }
  }

  test("native as-of join equals the composed union+window form on random event data") {
    import spark.implicits._
    // unique (user, ts) pairs so tie-breaking can't differ between forms
    val gen = Gen.listOfN(40, for {
      user <- Gen.choose(1L, 5L)
      ts <- Gen.choose(0L, 1000L)
      kind <- Gen.oneOf("view", "purchase")
    } yield (user, ts, kind))
    forAll(gen) { raw =>
      val rows = raw.distinctBy(r => (r._1, r._2)).zipWithIndex
        .map { case ((u, t, k), i) => (i.toLong, u, t, k) }
      val ev = rows.toDF("event_id", "user_id", "ts_ms", "event_type")
        .withColumn("ts", timestamp_millis($"ts_ms"))
      val composed = graft.operators.Analytics.asofPurchaseView(ev)
      val native = graft.operators.AsofNative.purchaseView(ev)
      assert(native.exceptAll(composed).count() === 0)
      assert(composed.exceptAll(native).count() === 0)
    }
  }

  test("normalize is idempotent and collapses ANY case/punctuation/whitespace variant") {
    import spark.implicits._
    val messGen = for {
      words <- Gen.listOfN(10, Gen.oneOf("alpha", "beta", "gamma", "delta"))
      caps <- Gen.listOfN(10, Gen.oneOf(true, false))
      punct <- Gen.listOfN(10, Gen.oneOf("", "!", ",", "...", "?!"))
      pads <- Gen.listOfN(10, Gen.oneOf(" ", "  ", "	 "))
    } yield {
      val clean = words.mkString(" ")
      val messy = words.lazyZip(caps).lazyZip(punct).lazyZip(pads).map {
        (w, c, p, s) => (if (c) w.toUpperCase else w) + p + s
      }.mkString("")
      (clean, messy)
    }
    forAll(messGen) { case (clean, messy) =>
      val r = Seq((clean, messy)).toDF("clean", "messy")
        .select(
          TextOps.normalize(col("clean")).as("nc"),
          TextOps.normalize(col("messy")).as("nm"),
          TextOps.normalize(TextOps.normalize(col("messy"))).as("nmm"))
        .head
      // already-clean text is a fixed point
      assert(r.getString(0) === clean)
      // any perturbation normalizes back to the clean form
      assert(r.getString(1) === clean, s"messy <$messy> normalized to <${r.getString(1)}>")
      // idempotence
      assert(r.getString(2) === r.getString(1))
    }
  }

  test("zorder interleave is a bijection on 16-bit pairs; native == composed chain") {
    import spark.implicits._
    def unzip(z: Long, offset: Int): Long =
      (0 until 16).map(b => ((z >> (2 * b + offset)) & 1L) << b).reduce(_ | _)
    forAll(Gen.listOfN(40, for {
      x <- Gen.choose(0L, 65535L); y <- Gen.choose(0L, 65535L)
    } yield (x, y))) { pairs =>
      val df = pairs.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("event_id", "x", "y")
        .withColumn("zval", ScaleOps.interleave16(col("x"), col("y")))
        .withColumn("zcomposed", ScaleOps.interleave16Composed(col("x"), col("y")))
      df.collect().foreach { r =>
        assert(unzip(r.getAs[Long]("zval"), 0) === r.getAs[Long]("x"))
        assert(unzip(r.getAs[Long]("zval"), 1) === r.getAs[Long]("y"))
        // native magic-mask expression is bit-identical to the 32-term chain
        assert(r.getAs[Long]("zval") === r.getAs[Long]("zcomposed"))
      }
    }
  }

  test("incremental agg merge equals full recompute for any data and any split") {
    forAll(rowGen) { rows =>
      val df = toDF(rows)
      Seq(2L, 3L, 97L).foreach { mod =>
        val merged = ScaleOps.incrAgg(df, deltaMod = mod)
        val direct = df.groupBy(col("user_id"))
          .agg(count(lit(1)).cast("long").as("n"), round(sum(col("value")), 2).as("sum_value"))
        assert(merged.exceptAll(direct).count() === 0, s"mod=$mod")
        assert(direct.exceptAll(merged).count() === 0, s"mod=$mod")
      }
    }
  }

  test("CMS estimate dominates the exact count for any data (never undercounts)") {
    forAll(rowGen) { rows =>
      val r = graft.operators.Sketches
        .cmsHeavyHitters(toDF(rows), depth = 2, width = 16, topN = 1000)
        .collect()
      assert(r.nonEmpty)
      // tiny width forces collisions — dominance must hold regardless
      r.foreach(x => assert(x.getAs[Long]("est") >= x.getAs[Long]("n")))
    }
  }

  test("Bloom filter never false-negatives for any data (members always probe maybe)") {
    forAll(rowGen) { rows =>
      val cells = graft.operators.Sketches
        .bloomAudit(toDF(rows), minValue = 50.0, mBits = 256, k = 3)
        .collect()
      // tiny filter forces false positives — a member probing "no" would
      // be a structural break, not a tuning artifact
      assert(!cells.exists(x =>
        x.getAs[Boolean]("is_member") && !x.getAs[Boolean]("bloom_maybe")),
        s"false negative cell present: ${cells.mkString(",")}")
      // cells partition the user base
      assert(cells.map(_.getAs[Long]("n")).sum === rows.map(_._2).distinct.length.toLong)
    }
  }

  test("KMV estimate is partition-invariant and tracks cardinality on any data") {
    forAll(rowGen) { rows =>
      val df = toDF(rows)
      val r = graft.operators.Sketches.kmvDistinct(df, k = 4, parts = 3).collect()
      val n = rows.map(_._2).distinct.length
      if (n >= 4) {
        assert(r.length === 1)
        assert(r.head.getAs[Long]("n_exact") === n.toLong)
        val again = graft.operators.Sketches
          .kmvDistinct(df.repartition(5), k = 4, parts = 3).collect()
        assert(again.head.getAs[Double]("est") === r.head.getAs[Double]("est"))
        assert(again.head.getAs[Long]("kth_hash") === r.head.getAs[Long]("kth_hash"))
      } else assert(r.isEmpty)
    }
  }

  test("identical documents always share minhash signatures and exact-dedup together") {
    import spark.implicits._
    forAll(Gen.listOfN(8, Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")))) { wordLists =>
      val texts = wordLists.map(_.mkString(" "))
      // duplicate every text under a shifted id: every doc must pair with its clone
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
        texts.zipWithIndex.map { case (t, i) => (i.toLong + 100, t) }
      val df = docs.toDF("doc_id", "text")
      val pairs = Dedup.minhashLsh(df, threshold = 0.999)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      texts.indices.foreach { i =>
        assert(pairs.contains((i.toLong, i.toLong + 100)) ||
          texts.count(_ == texts(i)) > 1) // clone pair found unless text also equals another doc's
      }
    }
  }

  test("scoreAuc: AUC in [0,1] and U2 reconciles with the rank identity for any data") {
    forAll(rowGen) { rows =>
      val df = toDF(rows)
      val nPos = rows.count(_._3 == "error")
      if (nPos > 0 && nPos < rows.length) {
        val r = graft.operators.Monitoring.scoreAuc(df).collect().head
        val (np, nn, u2) = (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
          decL(r, "u2"))
        assert(np === nPos.toLong && nn === (rows.length - nPos).toLong)
        // the doubled Mann–Whitney statistic is bounded by 2·n_pos·n_neg
        assert(u2 >= 0L && u2 <= 2 * np * nn)
        val auc = r.getAs[Double]("auc")
        assert(auc >= 0.0 && auc <= 1.0)
        // scalar recompute: P(pos > neg) + ½P(tie) over all cents pairs
        val cents = rows.map(x => (math.floor(x._4 * 100 + 0.5).toLong, x._3 == "error"))
        val pos = cents.filter(_._2).map(_._1); val neg = cents.filterNot(_._2).map(_._1)
        val u2Exp = pos.map(p => 2L * neg.count(_ < p) + neg.count(_ == p)).sum
        assert(u2 === u2Exp)
      }
    }
  }

  test("userEntropy: 0 <= H <= ln(n_merchants), normalized <= 1, for any data") {
    forAll(rowGen) { rows =>
      import spark.implicits._
      val ev = rows.map(x => (x._2, s"""{"k": ${x._1 % 7}}""")).toDF("user_id", "props")
      graft.operators.Monitoring.userEntropy(ev).collect().foreach { r =>
        val h = r.getAs[Double]("entropy")
        val nm = r.getAs[Long]("n_merchants")
        assert(h >= 0.0)
        assert(h <= math.log(nm.toDouble) + 1e-9)
        val norm = r.getAs[Double]("norm_entropy")
        assert(norm >= 0.0 && norm <= 1.0 + 1e-9)
        if (nm == 1) assert(h === 0.0 && norm === 0.0)
      }
    }
  }

  private val docsGen = Gen.listOfN(20, for {
    id <- Gen.choose(0L, 1000000L)
    words <- Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
    src <- Gen.oneOf("s0", "s1", "s2")
  } yield (id, words.mkString(" "), "en", src, words.mkString(" ").length.toLong))

  private def docsDF(rows: List[(Long, String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.distinctBy(_._1).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("varEs law: scaling every amount by an integer factor scales VaR and the tail exactly") {
    forAll(rowGen) { rows =>
      val ev = toDF(rows)
      val base = graft.operators.Monitoring.varEs(ev).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("var_cents"), r.getAs[Long]("tail_cents"),
            r.getAs[Long]("tail_n")))).toMap
      val scaled = graft.operators.Monitoring.varEs(
          ev.withColumn("value", col("value") * 3)).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("var_cents"), r.getAs[Long]("tail_cents"),
            r.getAs[Long]("tail_n")))).toMap
      assert(base.keySet === scaled.keySet)
      base.foreach { case (t, (v, ts, tn)) =>
        assert(scaled(t) === ((v * 3, ts * 3, tn)),
          s"$t: VaR/ES not 3x-equivariant: base=${base(t)} scaled=${scaled(t)}")
      }
    }
  }

  test("charEntropy law: 0 <= H <= ln(distinct chars); sum of term floors never exceeds the bound") {
    forAll(docsGen) { rows =>
      graft.operators.TextOps.charEntropy(docsDF(rows)).collect().foreach { r =>
        val h = r.getAs[Double]("entropy")
        val k = r.getAs[Long]("distinct_chars")
        assert(h >= 0.0 && h <= math.log(k.toDouble) + 1e-6,
          s"entropy $h outside [0, ln($k)]")
        if (k == 1) assert(r.getAs[Long]("entropy_scaled") === 0L)
      }
    }
  }

  test("sourceJsd law: 0 <= JSD <= ln 2 for every source") {
    forAll(docsGen) { rows =>
      graft.operators.TextOps.sourceJsd(docsDF(rows)).collect().foreach { r =>
        val j = r.getAs[Double]("jsd")
        // per-term floors can undershoot a hair below 0 on identical
        // distributions; never above ln 2
        assert(j >= -1e-6 && j <= math.log(2.0) + 1e-6,
          s"jsd $j outside [0, ln 2] for ${r.getAs[String]("source")}")
      }
    }
  }

  test("mixtureWaterfill law: per-source caps hold and the budget is met to within |sources|") {
    forAll(docsGen) { rows =>
      val r = graft.operators.TextOps.mixtureWaterfill(docsDF(rows)).collect()
      if (r.nonEmpty) {
        val b = r.head.getAs[Long]("budget_tokens")
        val total = r.map(_.getAs[Long]("alloc_tokens")).sum
        assert(total <= b, s"allocated $total over budget $b")
        assert(total > b - r.length - 1,
          s"allocated $total leaves more than |sources| slack under $b")
        r.foreach { row =>
          assert(row.getAs[Long]("alloc_tokens") <= row.getAs[Long]("n_tokens"))
        }
      }
    }
  }

  test("isotonic law: fit is monotone, mass-preserving, and pool-faithful") {
    val iso = graft.operators.Monitoring
      .isotonicCalibration(graft.Tables.orders(spark, sf))
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(iso.length > 5)
    // monotone non-decreasing in the score bin (the defining constraint)
    iso.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("iso_rate") <= b.getAs[Double]("iso_rate") + 1e-9,
        s"fit not monotone at bins ${a.get(0)} -> ${b.get(0)}")
    }
    // weighted mass preservation: Σ n_j·ŷ_j = Σ pos_j (PAVA pools
    // replace rates by pool means, never moving mass across the corpus)
    val fitted = iso.map(r => r.getAs[Long]("n") * r.getAs[Double]("iso_rate")).sum
    val pos = iso.map(_.getAs[Long]("pos")).sum.toDouble
    assert(math.abs(fitted - pos) < pos * 0.01 + 1.0,
      s"weighted fit mass $fitted far from positive mass $pos")
    // fit never leaves the empirical range
    val rates = iso.map(_.getAs[Double]("rate"))
    iso.foreach { r =>
      val y = r.getAs[Double]("iso_rate")
      assert(y >= rates.min - 1e-4 && y <= rates.max + 1e-4)
    }
  }

  test("stump law: the reported split is the argmax over every bin boundary") {
    val ev = graft.Tables.events(spark, sf)
    val best = graft.operators.Analytics.stumpSplit(ev).collect()
      .map(r => r.getAs[String]("feature") -> r).toMap
    // recompute the exact split scan per feature from the raw histogram
    val hist = ev.select(
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
        expr("cast(floor(value / 0.5) as long)").as("vbin"),
        expr("cast(get_json_object(props, '$.k') as long)").as("kbin"))
      .collect()
    def check(feature: String, bins: Seq[(Long, Long)]): Unit = {
      val byBin = bins.groupBy(_._1).map { case (b, xs) =>
        (b, xs.size.toLong, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
      val nt = byBin.map(_._2).sum; val post = byBin.map(_._3).sum
      var nl = 0L; var posl = 0L
      var bestS = Double.MinValue; var bestBin = Long.MaxValue
      byBin.foreach { case (b, n, p) =>
        nl += n; posl += p
        val nr = nt - nl; val posr = post - posl
        if (nr > 0) {
          val negl = nl - posl; val negr = nr - posr
          val s = ((posl * posl + negl * negl) * nr +
            (posr * posr + negr * negr) * nl).toDouble / (nl * nr)
          if (s > bestS + 1e-12 || (math.abs(s - bestS) <= 1e-12 && b < bestBin)) {
            bestS = s; bestBin = b
          }
        }
      }
      assert(best(feature).getAs[Long]("split_bin") === bestBin,
        s"$feature: operator split ${best(feature)} vs exact scan bin $bestBin")
      assert(best(feature).getAs[Double]("gini_after") <=
        best(feature).getAs[Double]("gini_before") + 1e-9,
        s"$feature: split increased impurity")
    }
    check("value", hist.filter(!_.isNullAt(1))
      .map(r => (r.getLong(1), r.getLong(0))).toSeq)
    check("props_k", hist.filter(!_.isNullAt(2))
      .map(r => (r.getLong(2), r.getLong(0))).toSeq)
  }

  test("padWaste laws: equal token mass, padding dominates, pow2 within 2x") {
    val r = graft.operators.TextOps.padWaste(graft.Tables.documents(spark, sf))
      .collect().map(row => row.getAs[String]("strategy") -> row).toMap
    assert(r.keySet === Set("global_max", "pow2", "mult64"))
    val masses = r.values.map(_.getAs[Long]("n_tokens")).toSet
    assert(masses.size === 1, s"strategies disagree on real token mass: $masses")
    r.values.foreach { row =>
      assert(row.getAs[Long]("padded_tokens") >= row.getAs[Long]("n_tokens"))
      val eff = row.getAs[Double]("efficiency")
      assert(eff > 0.0 && eff <= 1.0)
    }
    // next-pow2 tightness: target < 2·len per doc ⇒ pow2 waste < real mass
    assert(r("pow2").getAs[Long]("waste_tokens") < r("pow2").getAs[Long]("n_tokens"))
  }

  test("joinCardEst law: CMS inner product never undercounts; deeper never worse") {
    val rows = graft.operators.Sketches.joinCardEst(
        graft.Tables.orders(spark, sf), graft.Tables.customer(spark, sf))
      .collect().sortBy(_.getAs[Long]("depths_used"))
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(decL(r, "est") >= r.getAs[Long]("exact_rows"),
        "collision cross-terms are non-negative — the estimate cannot undercount")
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(decL(b, "est") <= decL(a, "est"),
        "prefix-min over depths must be non-increasing")
    }
  }

  test("lineDedup ledger agrees with a direct recompute") {
    val docs = graft.Tables.documents(spark, sf)
    val r = graft.operators.TextOps.lineDedup(docs).collect()
      .map(row => row.getAs[String]("source") ->
        (row.getAs[Long]("n_blocks"), row.getAs[Long]("dup_blocks"))).toMap
    val raw = docs.select(col("doc_id"), col("source"), col("text")).collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2)))
    val blocks = raw.flatMap { case (id, src, text) =>
      val toks = text.split(" ")
      toks.grouped(8).filter(_.length == 8).map(g => (id, src, g.mkString(" ")))
    }
    val docsPerBlock = blocks.groupBy(_._3).map { case (b, xs) =>
      (b, xs.map(_._1).distinct.size) }
    val expected = blocks.groupBy(_._2).map { case (src, xs) =>
      (src, (xs.length.toLong, xs.count(x => docsPerBlock(x._3) >= 2).toLong)) }
    assert(r === expected)
  }

  test("pcaTop: unit-norm loading, eigenvalue within the spectrum bounds") {
    val rows = graft.operators.Similarity.pcaTop(graft.Tables.embeddings(spark, sf))
      .collect()
    assert(rows.length === graft.operators.Similarity.PcaDim)
    val norm = math.sqrt(rows.map(r => math.pow(r.getAs[Double]("loading"), 2)).sum)
    assert(math.abs(norm - 1.0) < 1e-3, s"eigenvector norm $norm drifted from 1")
    val lambda = rows.head.getAs[Double]("lambda")
    val share = rows.head.getAs[Double]("var_share")
    assert(lambda >= 0.0, "Rayleigh quotient of a covariance is non-negative")
    // top-PC variance is at least the per-dim average and at most the total
    assert(share >= 1.0 / graft.operators.Similarity.PcaDim - 0.02 && share <= 1.0,
      s"var share $share outside [1/D, 1]")
  }

  test("recordLinkage blocking is complete: threshold -inf recalls every true pair") {
    val cust = graft.Tables.customer(spark, sf)
    // with the decision bar removed, recall measures the BLOCKING alone —
    // 1.0 proves the nation x kilocent(+/-1 probe) scheme never loses a
    // true pair, i.e. misses can only come from the score model
    val open = graft.operators.Dedup.recordLinkage(cust, threshold = Long.MinValue)
      .head
    assert(open.getAs[Double]("recall") === 1.0,
      s"blocking lost true pairs: $open")
    assert(open.getAs[Long]("n_pred") === open.getAs[Long]("n_cand"))
    // at the real threshold both error types exist but stay bounded
    val real = graft.operators.Dedup.recordLinkage(cust).head
    assert(real.getAs[Long]("tp") <= real.getAs[Long]("n_true"))
    assert(real.getAs[Double]("precision") > 0.5 && real.getAs[Double]("recall") > 0.5,
      s"linkage quality collapsed: $real")
  }

  test("zonemap law: clustering prunes its own dimension, never negative pruning") {
    val r = graft.operators.ScaleOps.zonemapAudit(graft.Tables.events(spark, sf))
      .collect()
      .map(x => (x.getAs[String]("layout"), x.getAs[String]("kind")) -> x).toMap
    assert(r.size === 9)
    r.values.foreach { x =>
      val frac = x.getAs[Double]("scan_frac")
      assert(frac > 0.0 && frac <= 1.0, s"scan fraction out of range: $x")
      assert(x.getAs[Long]("blocks_scanned") <= x.getAs[Long]("n_blocks") * 4)
    }
    // range-clustering on user_id must prune user probes at least as
    // well as arrival order does
    assert(r(("userclust", "u_range")).getAs[Double]("scan_frac") <=
      r(("natural", "u_range")).getAs[Double]("scan_frac"))
    // z-order must not be worse than arrival order on the 2-D boxes
    assert(r(("zorder", "box")).getAs[Double]("scan_frac") <=
      r(("natural", "box")).getAs[Double]("scan_frac"))
  }

  test("sinkhorn laws: plan mass is a coupling up to convergence residual, cost bounded") {
    val rows = graft.operators.Monitoring.sinkhornDrift(graft.Tables.events(spark, sf))
      .collect().sortBy(_.getAs[Int]("bin"))
    assert(rows.length === 16)
    val cost = rows.head.getAs[Double]("sinkhorn_cost")
    assert(cost >= 0.0 && cost <= 15.0, s"band-distance cost out of range: $cost")
    // after the final u-update total plan mass equals total row mass = 1
    val totalMass = rows.map(_.getAs[Double]("plan_col_mass")).sum
    assert(math.abs(totalMass - 1.0) < 1e-3, s"plan mass $totalMass drifted from 1")
    // column marginals converge toward c (the residual IS the readout,
    // but after 8 rounds it should be small on 16 bands)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("plan_col_mass") - r.getAs[Double]("c_p")) < 0.02,
        s"column marginal far from target: $r")
    }
  }

  test("knBigramLm scores the same held-out bigram population as the add-1 baseline") {
    val kn = graft.operators.TextOps.knBigramLm(graft.Tables.documents(spark, sf))
      .collect()
    val add1 = graft.operators.TextOps.bigramLm(graft.Tables.documents(spark, sf))
      .collect()
    assert(kn.map(_.getAs[Long]("n_bigrams")).sum ===
      add1.map(_.getAs[Long]("n_bigrams")).sum,
      "both smoothers must score every held-out bigram exactly once")
    kn.foreach { r =>
      assert(r.getAs[Double]("avg_nll") > 0.0, s"non-positive cross-entropy: $r")
      assert(r.getAs[Long]("n_unseen_hist") <= r.getAs[Long]("n_unseen"),
        "an unseen history implies an unseen bigram")
    }
  }

  test("qini law: the full-population point equals the overall incrementality formula") {
    val rows = graft.operators.Monitoring.qiniCurve(graft.Tables.events(spark, sf))
      .collect().sortBy(_.getAs[Long]("band"))
    val nT = rows.map(_.getAs[Long]("n_t")).sum
    val nC = rows.map(_.getAs[Long]("n_c")).sum
    val pT = rows.map(_.getAs[Long]("purch_t")).sum
    val pC = rows.map(_.getAs[Long]("purch_c")).sum
    // cumulation runs best-band-first, so band 0 carries the totals
    val last = rows.head
    val expected = math.floor((pT - pC * (nT.toDouble / nC)) * 10000) / 10000
    assert(last.getAs[Double]("qini") === expected,
      s"full-population qini ${last.getAs[Double]("qini")} != $expected")
    // per-user treated/control split is exhaustive
    val users = graft.Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).head.getLong(0)
    assert(nT + nC === users)
  }

  test("simpson audit: pooled sign and per-stratum reversal flags match a recompute") {
    val got = graft.operators.Analytics.simpsonAudit(
      graft.Tables.orders(spark, sf), graft.Tables.customer(spark, sf)).collect()
    val raw = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as long)").as("cents"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    def sign(rows: Seq[(Int, String, Long)]): Long = {
      val a = rows.filter(_._2 == "BUILDING"); val b = rows.filter(_._2 == "MACHINERY")
      math.signum(a.map(_._3).sum * b.size - b.map(_._3).sum * a.size).toLong
    }
    val pooledSign = sign(raw.toSeq)
    got.foreach { r =>
      val nation = r.getAs[Int]("nation")
      val stratum = sign(raw.filter(_._1 == nation).toSeq)
      assert(r.getAs[Long]("pooled_sign") === pooledSign)
      assert(r.getAs[Long]("stratum_sign") === stratum, s"nation $nation")
      assert(r.getAs[Boolean]("reversed") === (stratum * pooledSign < 0))
    }
  }

  test("als2: recommended brands were never purchased; factors solve the normal equations") {
    val orders = graft.Tables.orders(spark, sf)
    val li = graft.Tables.lineitem(spark, sf)
    val part = graft.Tables.part(spark, sf)
    val recs = graft.operators.Analytics.alsHalfStep(orders, li, part).collect()
    assert(recs.nonEmpty)
    val rated = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey"), col("p_brand")).distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    recs.foreach { r =>
      assert(!rated.contains((r.getAs[Long]("user"), r.getAs[String]("brand"))),
        s"recommended an already-purchased brand: $r")
      assert(r.getAs[Long]("rnk") >= 1L && r.getAs[Long]("rnk") <= 3L)
    }
    // every probe user with at least one unrated brand gets exactly topK rows
    recs.groupBy(_.getAs[Long]("user")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to rs.length).toSeq)
    }
  }

  test("amsF2 law: F2 >= n always; the mean estimate lands within loose AMS error") {
    val rows = graft.operators.Sketches.amsF2(graft.Tables.events(spark, sf)).collect()
    assert(rows.length === 8)
    val f2 = rows.head.getAs[Long]("f2")
    val n = graft.Tables.events(spark, sf).count()
    assert(f2 >= n, "sum of squares dominates the sum for unit-or-more frequencies")
    rows.foreach(r => assert(r.getAs[Long]("est") >= 0L))
    // Var(Z^2) <= 2*F2^2 per estimator; the 8-way mean concentrates —
    // a LOOSE 3-sigma-style bound that still catches sign/scale bugs
    assert(math.abs(rows.head.getAs[Double]("mean_rel_err")) < 1.5,
      s"mean AMS estimate implausibly far: ${rows.head}")
  }

  test("changepoint: the reported split is the exact argmax over every boundary") {
    val got = graft.operators.Monitoring.changepoint(graft.Tables.orders(spark, sf)).head
    val daily = graft.Tables.orders(spark, sf)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1.getTime)
    val totN = daily.map(_._3).sum; val totS = BigInt(daily.map(_._2).sum)
    var nl = 0L; var sl = BigInt(0)
    var best = Double.MinValue; var bestDay: java.sql.Timestamp = null
    daily.foreach { case (d, s, n) =>
      nl += n; sl += s
      val nr = totN - nl
      if (nr > 0) {
        val sr = totS - sl
        val g = (sl * sl * nr + sr * sr * nl).toDouble / (nl.toDouble * nr)
        if (g > best) { best = g; bestDay = d }
      }
    }
    assert(got.getAs[java.sql.Timestamp]("split_day") === bestDay)
    val ve = got.getAs[Double]("var_explained")
    assert(ve >= 0.0 && ve <= 1.0, s"variance explained out of range: $ve")
  }

  test("nprobeCurve: recall is monotone in nprobe under the consistent tie-break") {
    val rows = graft.operators.Similarity.nprobeCurve(graft.Tables.embeddings(spark, sf))
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val byNp = rs.sortBy(_.getAs[Long]("nprobe"))
      byNp.foreach { r =>
        assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_ret"))
        assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0)
      }
      // candidates only grow with nprobe, and the (cos, vec_id) order is
      // total and shared with the exact baseline, so hits cannot drop
      byNp.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("n_hit") <= b.getAs[Long]("n_hit"),
            s"query $q: recall fell when probing more lists")
        case _ =>
      }
    }
  }

  test("dpQuantile: noisy scores match a direct recompute; ranks are a permutation") {
    val got = graft.operators.Monitoring.dpQuantile(graft.Tables.events(spark, sf))
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(got.map(_.getAs[Long]("rnk")).toSeq === Seq(1L, 2L, 3L))
    // recompute the exponential-mechanism scores from the raw bins
    val cents = graft.Tables.events(spark, sf)
      .select(expr("cast(floor(value * 100 + 0.5) as long)")).collect()
      .map(_.getLong(0))
    val bins = cents.groupBy(_ / 500).map { case (b, xs) => (b, xs.length.toLong) }
      .toSeq.sortBy(_._1)
    val nt = bins.map(_._2).sum
    var cum = 0L
    val scored = bins.map { case (b, n) =>
      cum += n
      val u = -math.abs(2 * cum - nt)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"dpq|$b".getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(15)
      val unif = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 1152921504606846976.0
      val g = -math.log(-math.log(unif))
      (b, math.floor((0.25 * u + g) * 1e6).toLong)
    }
    val top = scored.sortBy { case (b, s) => (-s, b) }.take(3)
    assert(got.map(r => (r.getAs[Long]("bin"), r.getAs[Long]("score_scaled"))).toSeq
      === top.toSeq)
  }

  test("voptHistogram: buckets are the exact DP argmin; V-optimal never loses to equal-width") {
    val k = 4
    val got = graft.operators.Monitoring.voptHistogram(graft.Tables.orders(spark, sf), k)
      .collect().sortBy(_.getAs[Long]("bucket"))
    assert(got.length === k)
    // exact recompute: same prefix integers, same float cost formula,
    // same (v, i) argmin tie-break, same left-fold total order
    val monthly = graft.Tables.orders(spark, sf)
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("s"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1.getTime)
    val perMonthSs = graft.Tables.orders(spark, sf)
      .select(date_trunc("month", col("o_orderdate")).as("m"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as long)").as("c"))
      .collect().groupBy(_.getTimestamp(0))
      .map { case (m, rs) => (m, rs.map(r => BigInt(r.getLong(1)) * r.getLong(1)).sum) }
    val nM = monthly.length
    val cn = new Array[Long](nM + 1); val cs = new Array[Long](nM + 1)
    val css = new Array[BigInt](nM + 1); css(0) = BigInt(0)
    monthly.zipWithIndex.foreach { case ((m, n, s), i) =>
      cn(i + 1) = cn(i) + n; cs(i + 1) = cs(i) + s
      css(i + 1) = css(i) + perMonthSs(m)
    }
    def cost(i: Int, j: Int): Double = {
      val ds = BigInt(cs(j) - cs(i))
      (css(j) - css(i)).toDouble - (ds * ds).toDouble / (cn(j) - cn(i))
    }
    // dp(kk)(j) = (value, arg); argmin tie-break is (v, i) ascending
    val dp = Array.ofDim[(Double, Int)](k + 1, nM + 1)
    (1 to nM).foreach(j => dp(1)(j) = (cost(0, j), 0))
    for (kk <- 2 to k; j <- kk to nM) {
      var bv = Double.MaxValue; var ba = -1
      for (i <- (kk - 1) until j) {
        val v = dp(kk - 1)(i)._1 + cost(i, j)
        if (v < bv) { bv = v; ba = i }
      }
      dp(kk)(j) = (bv, ba)
    }
    val hi = new Array[Int](k + 1); val lo = new Array[Int](k + 1)
    hi(k) = nM
    for (kk <- k to 1 by -1) {
      lo(kk) = (if (kk == 1) 0 else dp(kk)(hi(kk))._2) + 1
      if (kk > 1) hi(kk - 1) = lo(kk) - 1
    }
    got.foreach { r =>
      val b = r.getAs[Long]("bucket").toInt
      assert(r.getAs[java.sql.Timestamp]("month_lo") === monthly(lo(b) - 1)._1,
        s"bucket $b lo boundary")
      assert(r.getAs[java.sql.Timestamp]("month_hi") === monthly(hi(b) - 1)._1,
        s"bucket $b hi boundary")
    }
    // totals: same textual left fold c1+c2+c3+c4, then the same trunc
    val tot = (1 to k).map(b => cost(lo(b) - 1, hi(b))).reduceLeft(_ + _)
    assert(got.head.getAs[Double]("vopt_sse_e15")
      === math.floor(tot / 1e15 * 10000) / 10000, "v-opt total SSE")
    got.foreach(r => assert(r.getAs[Double]("vopt_sse_e15")
      <= r.getAs[Double]("equalw_sse_e15"),
      "the DP optimum can never lose to the equal-width partition"))
  }

  test("mannWhitney: U and z match an exact midrank recompute; rank stats are scale-invariant") {
    val ev = graft.Tables.events(spark, sf)
    val got = graft.operators.Monitoring.mannWhitney(ev).head
    // exact recompute with integer half-unit midranks
    val perUser = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(expr("cast(floor(value * 100 + 0.5) as long)")).as("cents"))
      .withColumn("is_a", when(pmod(graft.functions.TextHash.hash60(
        concat(lit("ab|"), col("user_id"))), lit(2L)) === 0, 1L).otherwise(0L))
      .collect().map(r => (r.getAs[Long]("cents"), r.getAs[Long]("is_a")))
    val cells = perUser.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, xs) => (c, xs.length.toLong, xs.map(_._2).sum) }
    var before = 0L; var r2a = 0L; var tie3 = BigInt(0)
    cells.foreach { case (_, t, ta) =>
      r2a += ta * (before * 2 + t + 1); tie3 += BigInt(t) * t * t - t
      before += t
    }
    val nA = perUser.map(_._2).sum; val nn = perUser.length.toLong; val nB = nn - nA
    val u2a = r2a - nA * (nA + 1)
    assert(got.getAs[Long]("n_a") === nA && got.getAs[Long]("n_b") === nB)
    assert(got.getAs[Long]("u2_a") === u2a)
    val z = (BigInt(u2a) - BigInt(nA) * nB).toDouble /
      (2.0 * math.sqrt((BigInt(nA) * nB).toDouble / 12.0 *
        ((nn + 1).toDouble - tie3.toDouble / (BigInt(nn) * (nn - 1)).toDouble)))
    assert(got.getAs[Double]("z") === math.floor(z * 10000) / 10000)
    // a rank test must not move when every value triples
    val scaled = graft.operators.Monitoring.mannWhitney(
      ev.withColumn("value", col("value") * 3)).head
    assert(scaled.getAs[Long]("u2_a") === u2a)
    assert(scaled.getAs[Double]("z") === got.getAs[Double]("z"))
  }

  test("haarPyramid: Parseval holds in exact integers; top coefficients match a direct transform") {
    val orders = graft.Tables.orders(spark, sf)
    val got = graft.operators.Monitoring.haarPyramid(orders).collect()
      .sortBy(_.getAs[Long]("rnk"))
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("cents"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
      .sortBy(_._1).map(_._2)
    val n = daily.length
    val lcap = math.max(1, math.ceil(math.log(n.toDouble) / math.log(2)).toInt)
    val coeffs = for (lev <- 1 to lcap; blk <- 0 until (1 << (lcap - lev))) yield {
      val d = daily.zipWithIndex.map { case (c, t) =>
        if (t / (1L << lev) == blk)
          (if (t % (1L << lev) < (1L << (lev - 1))) c else -c) else 0L
      }.sum
      (lev, blk.toLong, d, BigInt(d) * d * (BigInt(1) << (lcap - lev)))
    }
    val s = daily.sum
    val totE = daily.map(c => BigInt(c) * c).sum * (BigInt(1) << lcap)
    // Parseval, exactly: approx² + Σ detail energies == 2^L·Σx²
    assert(BigInt(s) * s + coeffs.map(_._4).sum === totE)
    val top = coeffs.sortBy { case (l, b, _, e) => (-e, l, b) }.take(8)
    assert(got.map(r => (r.getAs[Long]("lev").toInt, r.getAs[Long]("blk"),
      r.getAs[Long]("d"))).toSeq === top.map(c => (c._1, c._2, c._3)))
    got.zip(top).foreach { case (r, c) =>
      assert(r.getAs[Double]("energy_share") ===
        math.floor(c._4.toDouble / totE.toDouble * 10000) / 10000)
    }
  }

  test("ebShrinkage: every posterior mean sits between the raw rate and the pooled rate") {
    val got = graft.operators.Monitoring.ebShrinkage(graft.Tables.events(spark, sf))
      .collect()
    assert(got.nonEmpty)
    val tn = got.map(_.getAs[Long]("n")).sum
    val tpos = got.map(_.getAs[Long]("pos")).sum
    val pooled = tpos.toDouble / tn
    got.foreach { r =>
      val raw = r.getAs[Long]("pos").toDouble / r.getAs[Long]("n")
      val shrunk = r.getAs[Double]("shrunk_rate")
      val (lo, hi) = (math.min(raw, pooled), math.max(raw, pooled))
      // floor granularity of 1e-6 can only pull the value DOWN
      assert(shrunk >= lo - 1e-6 && shrunk <= hi,
        s"merchant ${r.getAs[Long]("merchant")}: $shrunk outside [$lo, $hi]")
      // exact posterior recompute
      val m = r.getAs[Long]("prior_strength")
      val num = (BigInt(r.getAs[Long]("pos")) * tn + BigInt(m) * tpos) * 1000000
      val den = BigInt(tn) * (r.getAs[Long]("n") + m)
      assert(shrunk === (num / den).toLong / 1e6)
    }
  }

  test("compactionPlan: totals reconcile, groups are day-contiguous, fill reads the quota") {
    val ev = graft.Tables.events(spark, sf)
    val got = graft.operators.ScaleOps.compactionPlan(ev).collect()
      .sortBy(_.getAs[Long]("group_id"))
    val days = ev.groupBy(date_trunc("day", col("ts"))).agg(
        count(lit(1)).as("n"), sum(length(col("props")).cast("long") + 24L).as("b"))
      .collect()
    assert(got.map(_.getAs[Long]("n_rows")).sum === days.map(_.getAs[Long]("n")).sum)
    assert(got.map(_.getAs[Long]("group_bytes")).sum === days.map(_.getAs[Long]("b")).sum)
    assert(got.map(_.getAs[Long]("n_files")).sum === days.length)
    // groups partition the day axis in order: no overlap, no gap in ids
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[java.sql.Timestamp]("last_day")
          .before(b.getAs[java.sql.Timestamp]("first_day")))
      case _ =>
    }
    got.foreach { r =>
      assert(r.getAs[Double]("fill") ===
        math.floor(r.getAs[Long]("group_bytes") / 16384.0 * 10000) / 10000)
    }
  }

  test("prefixJaccardJoin: prefix filtering loses no qualifying pair (equals brute force)") {
    val docs = graft.Tables.documents(spark, sf)
    val got = graft.operators.Dedup.prefixJaccardJoin(docs).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        ((r.getAs[Long]("n_inter"), r.getAs[Double]("jaccard")))).toMap
    val toks = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet)
      .filter(_._2.size >= 4)
    val brute = (for {
      (a, ta) <- toks; (b, tb) <- toks if a < b
      inter = (ta & tb).size
      if inter * 10000L >= (ta.size + tb.size - inter).toLong * 8000L
    } yield (a, b) -> ((inter.toLong,
      math.floor(inter.toDouble / (ta.size + tb.size - inter) * 10000) / 10000))).toMap
    assert(got === brute)
  }

  test("mannKendall + theilSen: S, var18, median slope match an exact pairwise recompute") {
    val orders = graft.Tables.orders(spark, sf)
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("y"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
      .sortBy(_._1).map(_._2)
    val n = monthly.length
    val mk = graft.operators.Monitoring.mannKendall(orders).head
    var s = 0L
    for (i <- 0 until n; j <- (i + 1) until n)
      s += java.lang.Long.signum(monthly(j) - monthly(i))
    val tie = monthly.groupBy(identity).values.map(_.length.toLong)
      .map(t => t * (t - 1) * (2 * t + 5)).sum
    val var18 = n.toLong * (n - 1) * (2L * n + 5) - tie
    assert(mk.getAs[Long]("s") === s)
    assert(decL(mk, "var18") === var18)
    assert(mk.getAs[Long]("n_pairs") === n.toLong * (n - 1) / 2)
    val zNum = if (s > 0) (s - 1).toDouble else if (s < 0) (s + 1).toDouble else 0.0
    assert(mk.getAs[Double]("z") ===
      math.floor(zNum / math.sqrt(var18.toDouble / 18.0) * 10000) / 10000)
    val ts = graft.operators.Monitoring.theilSen(orders).head
    val slopes = (for (i <- 0 until n; j <- (i + 1) until n)
      yield ((monthly(j) - monthly(i)).toDouble / (j - i), i + 1, j + 1)).sorted
    val medSlope = slopes((slopes.length + 1) / 2 - 1)._1
    assert(ts.getAs[Double]("slope_usd_per_month") ===
      math.floor(medSlope / 100.0 * 10000) / 10000)
    val resid = monthly.zipWithIndex
      .map { case (y, t) => (y.toDouble - medSlope * (t + 1), t + 1) }.sorted
    assert(ts.getAs[Double]("intercept_usd") ===
      math.floor(resid((n + 1) / 2 - 1)._1 / 100.0 * 10000) / 10000)
  }

  test("saxMotifs: symbols and word counts match a direct transform; shares sum to <= 1") {
    val orders = graft.Tables.orders(spark, sf)
    val got = graft.operators.Monitoring.saxMotifs(orders).collect()
      .sortBy(_.getAs[Long]("rnk"))
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("y"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
      .sortBy(_._1).map(_._2)
    val n = daily.length
    val sum1 = daily.sum
    val sq = daily.map(y => BigInt(y) * y).sum
    val mean = sum1.toDouble / n
    val sd = math.sqrt((sq.toDouble - sum1.toDouble * sum1 / n) / (n - 1))
    val segs = daily.zipWithIndex.groupBy { case (_, t) => t / 7 }.toSeq.sortBy(_._1)
      .map { case (_, xs) =>
        val z = (xs.map(_._1).sum.toDouble / xs.length - mean) / sd
        if (z < -0.6745) "a" else if (z < 0) "b" else if (z < 0.6745) "c" else "d"
      }
    val words = segs.sliding(3).filter(_.length == 3).map(_.mkString).toSeq
    val counts = words.groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
    val top = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(5)
    assert(got.map(r => (r.getAs[String]("word"), r.getAs[Long]("n_occur"))).toSeq
      === top)
    assert(got.head.getAs[Long]("n_words") === words.length.toLong)
    assert(got.map(_.getAs[Double]("share")).sum <= 1.0 + 1e-9)
  }

  test("holtSmoothing: the fold state matches a sequential Scala replay; forecasts are affine in h") {
    val orders = graft.Tables.orders(spark, sf)
    val got = graft.operators.Monitoring.holtSmoothing(orders).collect()
      .sortBy(_.getAs[Long]("horizon"))
    assert(got.map(_.getAs[Long]("horizon")).toSeq === Seq(1L, 2L, 3L))
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("y"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
      .sortBy(_._1).map(_._2.toDouble)
    // the identical textual recursion, stepped in Scala (same IEEE ops)
    var l = monthly.head; var b = 0.0; var sse = 0.0
    monthly.tail.foreach { x =>
      val l2 = 0.5 * x + 0.5 * (l + b)
      val b2 = 0.5 * ((0.5 * x + 0.5 * (l + b)) - l) + 0.5 * b
      sse = sse + (x - (l + b)) * (x - (l + b))
      l = l2; b = b2
    }
    assert(got.head.getAs[Double]("level_usd") === math.floor(l / 100.0 * 10000) / 10000)
    assert(got.head.getAs[Double]("trend_usd") === math.floor(b / 100.0 * 10000) / 10000)
    assert(got.head.getAs[Double]("rmse_usd") ===
      math.floor(math.sqrt(sse / (monthly.length - 1)) / 100.0 * 10000) / 10000)
    got.foreach { r =>
      val h = r.getAs[Long]("horizon")
      assert(r.getAs[Double]("forecast_usd") ===
        math.floor((l + h * b) / 100.0 * 10000) / 10000, s"h=$h forecast")
    }
  }

  test("corrMatrix: r matches an exact-moment recompute; diagonal-free, symmetric-range") {
    val got = graft.operators.Monitoring.corrMatrix(graft.Tables.lineitem(spark, sf))
      .collect()
    assert(got.length === 6)
    val rows = graft.Tables.lineitem(spark, sf).select(
        expr("cast(floor(l_quantity + 0.5) as long)"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as long)"),
        expr("cast(floor(l_discount * 100 + 0.5) as long)"),
        expr("cast(floor(l_tax * 100 + 0.5) as long)"))
      .collect().map(r => Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val names = Seq("qty", "price_cents", "discount_pct", "tax_pct")
    val n = BigInt(rows.length)
    got.foreach { r =>
      val (ia, ib) = (names.indexOf(r.getAs[String]("x_col")),
        names.indexOf(r.getAs[String]("y_col")))
      assert(ia >= 0 && ib > ia, "pairs are ordered and diagonal-free")
      val sa = rows.map(x => BigInt(x(ia))).sum; val sb = rows.map(x => BigInt(x(ib))).sum
      val qa = rows.map(x => BigInt(x(ia)) * x(ia)).sum
      val qb = rows.map(x => BigInt(x(ib)) * x(ib)).sum
      val xab = rows.map(x => BigInt(x(ia)) * x(ib)).sum
      val rr = (n * xab - sa * sb).toDouble /
        math.sqrt((n * qa - sa * sa).toDouble * (n * qb - sb * sb).toDouble)
      assert(r.getAs[Double]("r") === math.floor(rr * 10000) / 10000)
      assert(math.abs(r.getAs[Double]("r")) <= 1.0)
    }
  }

  test("quantileNorm: normalized means converge across types; every target is a real global value") {
    val ev = graft.Tables.events(spark, sf)
    val got = graft.operators.Monitoring.quantileNorm(ev).collect()
    assert(got.length > 1)
    // post-normalization means all sit within a cent-scale band of each
    // other (each type now draws from the same global distribution)
    val after = got.map(_.getAs[Double]("mean_after_usd"))
    assert(after.max - after.min < 1.0,
      s"normalized means should converge: ${after.toSeq}")
    // totals: per-type n equals the type's row count
    val counts = ev.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(r.getAs[Long]("n") === counts(r.getAs[String]("event_type"))))
    // exact recompute for one type: each cell maps to the global order
    // statistic at ceil(midrank * ng / nt)
    val cents = ev.select(col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as long)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val global = cents.map(_._2).sorted
    val ng = global.length.toLong
    val ty = got.head.getAs[String]("event_type")
    val tvals = cents.filter(_._1 == ty).map(_._2).sorted
    val nt = tvals.length.toLong
    val cells = tvals.groupBy(identity).toSeq.sortBy(_._1)
    var before = 0L
    var sa = 0L
    cells.foreach { case (_, xs) =>
      val t = xs.length.toLong
      val r2 = before * 2 + t + 1
      val gi = (r2 * ng + 2 * nt - 1) / (2 * nt)
      sa += global((gi - 1).toInt) * t
      before += t
    }
    assert(got.find(_.getAs[String]("event_type") == ty).get
      .getAs[Double]("mean_after_usd") ===
      math.floor(sa.toDouble / nt / 100.0 * 10000) / 10000)
  }

  test("gumbelMaxima + runsTest + rankCorr: all three match exact recomputes") {
    val orders = graft.Tables.orders(spark, sf)
    // shared daily collapse
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("r"),
        count(lit(1)).as("c"))
      .collect().map(x => (x.getTimestamp(0).getTime, x.getLong(1), x.getLong(2)))
      .sortBy(_._1)
    // --- gumbel ---
    val gm = graft.operators.Monitoring.gumbelMaxima(orders).head
    val maxima = orders.groupBy(date_trunc("month", col("o_orderdate")))
      .agg(max(expr("cast(floor(o_totalprice * 100 + 0.5) as long)")).as("m"))
      .collect().map(_.getLong(1))
    val nm = maxima.length
    val mean = maxima.sum.toDouble / nm
    val sq = maxima.map(m => BigInt(m) * m).sum
    val beta = math.sqrt(6.0 * ((sq.toDouble - maxima.sum.toDouble * maxima.sum / nm)
      / (nm - 1))) / math.Pi
    val mu = mean - 0.57721566490153286 * beta
    assert(gm.getAs[Long]("n_months") === nm.toLong)
    assert(gm.getAs[Double]("mu_usd") === math.floor(mu / 100.0 * 10000) / 10000)
    assert(gm.getAs[Double]("beta_usd") === math.floor(beta / 100.0 * 10000) / 10000)
    assert(gm.getAs[Double]("return_level_usd") === math.floor(
      (mu - beta * math.log(-math.log(1.0 - 1.0 / 120))) / 100.0 * 10000) / 10000)
    // a 10-year return level must exceed the location (T > e/(e-1))
    assert(gm.getAs[Double]("return_level_usd") > gm.getAs[Double]("mu_usd"))
    // --- runs test ---
    val rt = graft.operators.Monitoring.runsTest(orders).head
    val ys = daily.map(_._2)
    val med = ys.zip(daily.map(_._1)).sorted.apply((ys.length + 1) / 2 - 1)._1
    val bs = ys.map(y => if (y > med) 1L else 0L)
    val runs = 1L + bs.sliding(2).count { case Array(a, b) => a != b }
    val n1 = bs.sum; val n0 = bs.length - n1
    assert(rt.getAs[Long]("runs") === runs)
    assert(rt.getAs[Long]("n1") === n1 && rt.getAs[Long]("n0") === n0)
    val p2 = 2.0 * n1 * n0; val nn = bs.length.toDouble
    assert(rt.getAs[Double]("z") === math.floor(
      (runs - (p2 / nn + 1)) / math.sqrt(p2 * (p2 - nn) / (nn * nn * (nn - 1)))
        * 10000) / 10000)
    // --- rank correlations ---
    val rc = graft.operators.Monitoring.rankCorr(orders).head
    def r2s(v: Array[Long]): Map[Long, Long] = {
      val cells = v.groupBy(identity).toSeq.sortBy(_._1)
      var bfr = 0L
      cells.map { case (x, g) =>
        val out = x -> (bfr * 2 + g.length + 1); bfr += g.length; out
      }.toMap
    }
    val (ra, ca) = (daily.map(_._2), daily.map(_._3))
    val (mra, mca) = (r2s(ra), r2s(ca))
    val n = BigInt(daily.length)
    val sa = ra.map(x => BigInt(mra(x))).sum; val sb = ca.map(x => BigInt(mca(x))).sum
    val qa = ra.map(x => BigInt(mra(x)) * mra(x)).sum
    val qb = ca.map(x => BigInt(mca(x)) * mca(x)).sum
    val xab = daily.map(d => BigInt(mra(d._2)) * mca(d._3)).sum
    val rho = (n * xab - sa * sb).toDouble /
      math.sqrt((n * qa - sa * sa).toDouble * (n * qb - sb * sb).toDouble)
    assert(rc.getAs[Double]("rho") === math.floor(rho * 10000) / 10000)
    var s = 0L
    for (i <- daily.indices; j <- (i + 1) until daily.length)
      s += java.lang.Long.signum(daily(j)._2 - daily(i)._2) *
        java.lang.Long.signum(daily(j)._3 - daily(i)._3)
    assert(rc.getAs[Long]("s") === s)
    val tr2 = ra.groupBy(identity).values.map(g => g.length.toLong * (g.length - 1)).sum
    val tc2 = ca.groupBy(identity).values.map(g => g.length.toLong * (g.length - 1)).sum
    val p2k = daily.length.toLong * (daily.length - 1)
    assert(rc.getAs[Double]("tau_b") === math.floor(
      s.toDouble * 2 / math.sqrt((p2k - tr2).toDouble * (p2k - tc2).toDouble)
        * 10000) / 10000)
  }

  test("binTopK: packed-word Hamming equals a sign recompute; ranks respect (hamming, vec_id)") {
    val emb = graft.Tables.embeddings(spark, sf)
    val got = graft.operators.Similarity.binTopK(emb, Seq(0L, 1L, 2L, 3L, 4L))
      .collect()
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_ > 0f).toArray).toMap
    def ham(a: Array[Boolean], b: Array[Boolean]): Long =
      a.zip(b).count { case (x, y) => x != y }.toLong
    got.foreach { r =>
      val (q, v) = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      assert(r.getAs[Long]("hamming") === ham(vecs(q), vecs(v)),
        s"hamming($q, $v)")
    }
    // per query: exactly k rows whose hamming never exceeds any
    // non-returned vector's hamming (the binary index's top-k claim)
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.length === 10)
      assert(rs.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to 10L))
      val worst = rs.map(_.getAs[Long]("hamming")).max
      val returned = rs.map(_.getAs[Long]("vec_id")).toSet
      // ties at the boundary may fall either side (vec_id breaks them)
      vecs.keys.filter(v => v != q && !returned.contains(v)).foreach { v =>
        assert(ham(vecs(q), vecs(v)) >= worst, s"missed closer vector $v for query $q")
      }
    }
  }

  test("neymanAlloc: both allocations apportion the budget exactly; recompute agrees") {
    val got = graft.operators.Monitoring.neymanAlloc(graft.Tables.events(spark, sf))
      .collect()
    assert(got.map(_.getAs[Long]("alloc_neyman")).sum === 1000L)
    assert(got.map(_.getAs[Long]("alloc_prop")).sum === 1000L)
    got.foreach(r => assert(r.getAs[Long]("alloc_neyman") >= 0 &&
      r.getAs[Long]("alloc_prop") >= 0))
    // exact largest-remainder replay for the Neyman column
    val cents = graft.Tables.events(spark, sf)
      .select(col("event_type"), expr("cast(floor(value * 100 + 0.5) as long)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val w6 = cents.groupBy(_._1).map { case (ty, xs) =>
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      val sq = xs.map(x => BigInt(x._2) * x._2).sum
      val sd = math.sqrt((sq.toDouble - s.toDouble * s / n) / (n - 1))
      ty -> (n, math.floor(n * sd * 1e6).toLong)
    }
    val ww = w6.values.map(x => BigInt(x._2)).sum
    val base = w6.map { case (ty, (_, w)) =>
      ty -> ((BigInt(1000) * w / ww).toLong, (BigInt(1000) * w % ww)) }
    val deficit = 1000L - base.values.map(_._1).sum
    val plusOne = base.toSeq.sortBy { case (ty, (_, rem)) => (-rem, ty) }
      .take(deficit.toInt).map(_._1).toSet
    got.foreach { r =>
      val ty = r.getAs[String]("event_type")
      assert(r.getAs[Long]("alloc_neyman") ===
        base(ty)._1 + (if (plusOne(ty)) 1L else 0L), s"stratum $ty")
    }
  }

  test("llrCollocations + chao1: exact recomputes; G2 never negative; Chao1 never shrinks the vocabulary") {
    val docs = graft.Tables.documents(spark, sf)
    val gotL = graft.operators.TextOps.llrCollocations(docs).collect()
      .sortBy(_.getAs[Long]("rnk"))
    val bigrams = docs.select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").sliding(2).filter(_.length == 2)
        .map(a => (a(0), a(1))))
    val nn = bigrams.length.toLong
    val cx = bigrams.groupBy(_._1).map { case (w, xs) => w -> xs.length.toLong }
    val cy = bigrams.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    def xlx(c: Long): Double = if (c > 0) c.toDouble * math.log(c.toDouble) else 0.0
    val scored = bigrams.groupBy(identity).toSeq
      .map { case ((a, b), xs) => (a, b, xs.length.toLong) }
      .filter(_._3 >= 5)
      .map { case (a, b, k11) =>
        val (c1, c2) = (cx(a), cy(b))
        val (k12, k21, k22) = (c1 - k11, c2 - k11, nn - c1 - c2 + k11)
        val llr = 2.0 * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22) -
          xlx(c1) - xlx(k11 + k21) - xlx(k12 + k22) - xlx(nn - c1) + xlx(nn))
        (a, b, k11, math.floor(llr * 10000) / 10000)
      }
    val top = scored.sortBy { case (a, b, _, l) => (-l, a, b) }.take(25)
    assert(gotL.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
      r.getAs[Long]("k11"), r.getAs[Double]("llr"))).toSeq === top)
    gotL.foreach(r => assert(r.getAs[Double]("llr") >= -1e-4,
      "G2 is a likelihood RATIO statistic - never negative beyond trunc"))
    val gotC = graft.operators.TextOps.chao1(docs).collect()
    assert(gotC.nonEmpty)
    gotC.foreach { r =>
      assert(r.getAs[Double]("chao1_est") >= r.getAs[Long]("n_types").toDouble - 1e-4,
        "estimated richness can never be below the observed vocabulary")
      val cov = r.getAs[Double]("coverage")
      assert(cov >= 0.0 && cov <= 1.0)
    }
    val toks = docs.select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").map(t => (r.getString(0), t)))
    val bySrc = toks.groupBy(_._1)
    gotC.foreach { r =>
      val counts = bySrc(r.getAs[String]("source")).groupBy(_._2)
        .map(_._2.length.toLong)
      val (f1, f2) = (counts.count(_ == 1L).toLong, counts.count(_ == 2L).toLong)
      val d = counts.size.toLong
      assert(r.getAs[Long]("n_types") === d)
      assert(r.getAs[Double]("chao1_est") === math.floor(
        (d + (f1 * (f1 - 1)).toDouble / ((f2 + 1) * 2)) * 10000) / 10000)
    }
  }

  test("captureRecapture: counts match a direct hash replay; the estimator is exactly Chapman") {
    val got = graft.operators.Monitoring.captureRecapture(graft.Tables.events(spark, sf))
      .head
    val users = graft.Tables.events(spark, sf).select(col("user_id")).distinct()
      .withColumn("ha", pmod(graft.functions.TextHash.hash60(
        concat(lit("cr_a|"), col("user_id"))), lit(10L)))
      .withColumn("hb", pmod(graft.functions.TextHash.hash60(
        concat(lit("cr_b|"), col("user_id"))), lit(10L)))
      .collect().map(r => (r.getLong(1) == 0, r.getLong(2) == 0))
    val n1 = users.count(_._1).toLong; val n2 = users.count(_._2).toLong
    val m = users.count(u => u._1 && u._2).toLong
    assert(got.getAs[Long]("true_users") === users.length.toLong)
    assert(got.getAs[Long]("n1") === n1 && got.getAs[Long]("n2") === n2)
    assert(got.getAs[Long]("m") === m)
    assert(got.getAs[Long]("chapman_est") === (n1 + 1) * (n2 + 1) / (m + 1) - 1)
    // accuracy only means something once the recapture actually
    // overlaps (15 users at sf0.001 catch m = 0 — the bias-corrected
    // form then degrades gracefully to n2, which IS the right answer
    // to assert); the ballpark band applies at real overlap
    if (m >= 5)
      assert(got.getAs[Double]("rel_err") < 0.5,
        s"Chapman estimate implausibly far: $got")
    else
      assert(got.getAs[Long]("chapman_est") === (n1 + 1) * (n2 + 1) / (m + 1) - 1)
  }

  test("skyline law: no surviving merchant is dominated; every excluded one is") {
    forAll(rowGen) { rows =>
      import spark.implicits._
      val ev = rows.map { case (id, user, kind, value) =>
        (id, user, kind, value, s"""{"k":"${id % 7}"}""", 1700000000000L + id)
      }.toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
      val all = ev
        .select(expr("cast(get_json_object(props, '$.k') as long)").as("m"),
          col("user_id"), expr("cast(floor(value * 100 + 0.5) as long)").as("cents"))
        .groupBy(col("m"))
        .agg(sum(col("cents")).as("c"), countDistinct(col("user_id")).as("u"))
        .collect().map(r => (r.getAs[Long]("m"), r.getAs[Long]("c"), r.getAs[Long]("u")))
      val sky = graft.operators.Monitoring.skylineMerchants(ev).collect()
        .map(_.getAs[Long]("m")).toSet
      def dominated(p: (Long, Long, Long)) = all.exists(q =>
        q._1 != p._1 && q._2 >= p._2 && q._3 >= p._3 && (q._2 > p._2 || q._3 > p._3))
      all.foreach { p =>
        if (sky.contains(p._1)) assert(!dominated(p), s"survivor $p is dominated")
        else assert(dominated(p), s"excluded $p is not dominated by anyone")
      }
    }
  }
}
