package graft

import graft.functions.{TextHash, VectorOps}
import graft.operators._
import org.apache.spark.sql.functions._

/** Unit semantics for the L2/L4 operator library on constructed data. */
class OperatorsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private lazy val docsDF: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs away fast", "en", "s0", 62L),
      (1L, "the quick brown fox jumps over the lazy dog and runs away quick", "en", "s0", 63L),
      (2L, "completely different words about spark catalyst tungsten codegen shuffles", "en", "s1", 74L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("TextHash.hash60 matches the md5-derived value") {
    import spark.implicits._
    val got = Seq("abc").toDF("s").select(TextHash.hash60(col("s"))).head.getLong(0)
    // md5("abc") = 900150983cd24fb0d6963f7d28e17f72 → first 15 hex
    assert(got === java.lang.Long.parseLong("900150983cd24fb", 16))
  }

  test("TextHash.shingles: n-2 trigrams, empty under n tokens") {
    import spark.implicits._
    val df = Seq("a b c d e", "a b").toDF("t")
      .select(size(TextHash.shingles(TextHash.tokens(col("t")))).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 0))
  }

  test("Dedup.exact collapses duplicated texts and keeps the min id") {
    val r = Dedup.exact(docsDF).collect()
    // exact() unions a copy of doc_id<50 with ids+100000 → every text has
    // 2 copies here, and the kept id is always the original
    assert(r.length === 3)
    assert(r.forall(_.getAs[Long]("n_copies") === 2L))
    assert(r.map(_.getAs[Long]("keep_id")).sorted.toSeq === Seq(0L, 1L, 2L))
  }

  test("Dedup.minhashLsh finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.minhashLsh(docsDF, threshold = 0.3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("Dedup.ngramTopK ranks the near-identical doc first") {
    val top = Dedup.ngramTopK(docsDF, Seq(0L), k = 2).orderBy("rnk").collect()
    assert(top.head.getAs[Long]("doc_id") === 1L)
    assert(top.head.getAs[Double]("jaccard") > 0.5)
  }

  test("TextOps.langIdEval: confusion matrix reconciles with the corpus and the predictions") {
    val docs = Tables.documents(spark, sf)
    val m = operators.TextOps.langIdEval(docs).collect()
    // matrix mass == corpus size; per-lang row sums == label counts
    assert(m.map(_.getAs[Long]("n")).sum === docs.count())
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    m.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      assert(rows.map(_.getAs[Long]("n")).sum === byLang(lang))
      assert(rows.forall(_.getAs[Long]("lang_total") === byLang(lang)))
    }
    m.foreach { r =>
      assert(r.getAs[Boolean]("correct") ===
        (r.getAs[String]("lang") == r.getAs[String]("predicted")))
    }
    // the heuristic must actually work on its home turf: en → en
    val en = m.filter(r => r.getAs[String]("lang") == "en")
    val enHit = en.find(_.getAs[Boolean]("correct")).map(_.getAs[Long]("n")).getOrElse(0L)
    assert(enHit * 2 > byLang("en"), "en accuracy below 50%")
  }

  test("TextOps.sourceOverlap: mirrored sources score jaccard 1, disjoint pairs absent") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, shared, "en", "s0", 1L),
      (1L, shared, "en", "s1", 1L),   // s1 mirrors s0 exactly
      (2L, "completely different tokens with no overlap anywhere here", "en", "s2", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = operators.TextOps.sourceOverlap(docs).collect()
    assert(r.length === 1) // only the overlapping pair appears
    val row = r.head
    assert(row.getAs[String]("src_a") === "s0" && row.getAs[String]("src_b") === "s1")
    assert(row.getAs[Double]("jaccard") === 1.0)
    assert(row.getAs[Double]("contain_a") === 1.0 && row.getAs[Double]("contain_b") === 1.0)
  }

  test("TextOps.tokenBudget: prefix property and budget bound per source") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, (1 to 100).map(j => s"t${i}_$j").mkString(" "),
        "en", s"s${i % 2}", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = operators.TextOps.tokenBudget(docs, budget = 500L).collect()
    // 100 tokens/doc, budget 500 ⇒ exactly 5 docs kept per source
    val bySource = r.groupBy(_.getAs[String]("source"))
    assert(bySource.keySet === Set("s0", "s1"))
    bySource.values.foreach { rows =>
      assert(rows.length === 5)
      assert(rows.map(_.getAs[Long]("cum_tok")).max === 500L)
    }
    // determinism: the kept set is a fixed hash-ordered prefix — rerun matches
    val again = operators.TextOps.tokenBudget(docs, budget = 500L).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(again === r.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("SqlCoverage.userPaths: time-ordered first-3 paths, merge order pinned") {
    import spark.implicits._
    // user 1: view>click>purchase (4th event ignored); user 2 same
    // path; user 3: click only
    val ev = Seq(
      (1L, 1L, 10L, "view"), (2L, 1L, 20L, "click"), (3L, 1L, 30L, "purchase"),
      (4L, 1L, 40L, "error"),
      (5L, 2L, 10L, "view"), (6L, 2L, 20L, "click"), (7L, 2L, 30L, "purchase"),
      (8L, 3L, 10L, "click"))
      .toDF("event_id", "user_id", "ts_ms", "event_type")
    val r = operators.SqlCoverage.userPaths(ev).collect()
      .map(x => x.getAs[String]("path") -> x.getAs[Long]("n_users")).toMap
    assert(r === Map("view>click>purchase" -> 2L, "click" -> 1L))
  }

  test("SqlCoverage.convertTime: first-signup to first-subsequent-purchase day buckets") {
    import spark.implicits._
    // user 1: signup day 0, purchases day 2 and day 9 → bucket 2
    // user 2: purchase BEFORE signup (ignored), none after → absent
    // user 3: signup, purchase 30 min later → bucket 0
    val ev = Seq(
      (1L, 1L, 0L, "signup"), (2L, 1L, 2L * 86400000L, "purchase"),
      (3L, 1L, 9L * 86400000L, "purchase"),
      (4L, 2L, 5L * 86400000L, "signup"), (5L, 2L, 1L * 86400000L, "purchase"),
      (6L, 3L, 0L, "signup"), (7L, 3L, 1800000L, "purchase"))
      .toDF("event_id", "user_id", "ts_ms", "event_type")
    val r = operators.SqlCoverage.convertTime(ev).collect()
      .map(x => x.getAs[Long]("delta_days") -> x.getAs[Long]("n_users")).toMap
    assert(r === Map(2L -> 1L, 0L -> 1L))
  }

  test("Dedup.substringRuns: finds the shared token run, exact length, no cross-pair noise") {
    import spark.implicits._
    // docs 0/1 share the 12-token run "w1 .. w12" embedded in distinct
    // surroundings; doc 2 shares nothing that long
    val run = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta gamma $run delta epsilon zeta", "en", "s0", 1L),
      (1L, s"one two three four $run five six seven eight", "en", "s0", 1L),
      (2L, "totally unrelated text with nothing shared at all here", "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.substringRuns(docs, minRun = 5L).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("a_id") === 0L && row.getAs[Long]("b_id") === 1L)
    // 12 shared tokens = 10 consecutive 3-shingles = run of 10 ⇒ 10+2
    assert(row.getAs[Long]("max_run_tokens") === 12L)
    assert(row.getAs[Long]("n_runs") === 1L)
  }

  test("Dedup.substringRuns: two disjoint runs counted separately, not merged") {
    import spark.implicits._
    val r1 = (1 to 8).map(i => s"x$i").mkString(" ")
    val r2 = (1 to 8).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (0L, s"$r1 unique middle marker tokens $r2", "en", "s0", 1L),
      (1L, s"other start $r2 different bridge words entirely $r1 tail end", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val row = Dedup.substringRuns(docs, minRun = 4L).collect().head
    assert(row.getAs[Long]("n_runs") === 2L)
    // each 8-token run = 6 shingles ⇒ max 6+2 = 8 tokens
    assert(row.getAs[Long]("max_run_tokens") === 8L)
    assert(row.getAs[Long]("total_tokens") === 16L)
  }

  test("Dedup.incrementalMinhash: perturbed re-ingests caught; exact registry misses them") {
    val r = Dedup.incrMinhashAudit(docsDF).collect()
    // every doc (<50) re-enters with its first token replaced — the
    // near-dup must pair with its own original at jaccard > 0.5
    val co = Dedup.CopyOffset
    (0L to 2L).foreach { i =>
      val hit = r.find(x => x.getAs[Long]("batch_id") == i + co &&
        x.getAs[Long]("reg_id") == i)
      assert(hit.nonEmpty, s"perturbed copy of doc $i not caught")
      assert(hit.get.getAs[Double]("jaccard") > 0.5)
    }
    // the EXACT incremental path cannot see any of them (content differs)
    val perturbed = docsDF.select((col("doc_id") + co).as("doc_id"),
      concat(lit("xq"), col("doc_id"),
        expr("substring(text, instr(text, ' '))")).as("text"))
    val exact = Dedup.incrementalDedup(docsDF, perturbed)
      .filter(col("already_ingested")).count()
    assert(exact === 0L)
  }

  test("Dedup.clusterReport: one 2-cluster, keep-one removes exactly one doc") {
    val r = Dedup.clusterReport(docsDF, threshold = 0.3).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("cluster_size") === 2L)   // the planted (0,1) pair
    assert(row.getAs[Long]("n_clusters") === 1L)
    assert(decL(row, "docs_in_clusters") === 2L)
    assert(decL(row, "docs_removed") === 1L)
    assert(row.getAs[Long]("n_docs") === 3L)
  }

  test("Dedup.minhashEstimateAudit: estimate brackets exact jaccard on candidates") {
    val rows = Dedup.minhashEstimateAudit(docsDF).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Long]("matches")
      assert(m >= 0L && m <= 16L)
      assert(math.abs(r.getAs[Double]("estimate") - m / 16.0) < 1e-4)
      val err = r.getAs[Double]("abs_err")
      assert(err >= 0.0 && err <= 1.0)
    }
    // the planted near-identical pair (0,1) must be a candidate with a
    // high signature estimate AND high exact jaccard
    val nd = rows.find(r => r.getAs[Long]("a_id") == 0L && r.getAs[Long]("b_id") == 1L)
    assert(nd.nonEmpty)
    assert(nd.get.getAs[Long]("matches") >= 10L)
    assert(nd.get.getAs[Double]("jaccard") > 0.5)
  }

  test("Dedup.simhashPairs: near-identical docs within hamming 3, distinct doc far") {
    val pairs = Dedup.simhashPairs(docsDF, maxHamming = 10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))
  }

  test("NativeVector codegen expressions are bit-exact with the HOF fold") {
    import graft.functions.NativeVector
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val both = emb.crossJoin(broadcast(q)).select(
      NativeVector.cosine(col("qe"), col("embedding")).as("native"),
      VectorOps.cosine(col("qe"), col("embedding")).as("hof"),
      NativeVector.dot(col("qe"), col("embedding")).as("ndot"),
      VectorOps.dot(col("qe"), col("embedding")).as("hdot"))
    val mismatches = both.filter(col("native") =!= col("hof") || col("ndot") =!= col("hdot")).count()
    assert(mismatches === 0)
  }

  test("Dedup.components: min-label over a chain and a separate pair") {
    import spark.implicits._
    // chain 1-2-3 (transitively connected) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val r = Dedup.components(pairs).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("Dedup.components: pointer jumping converges a 300-diameter chain within the round cap") {
    import spark.implicits._
    // a path graph 0-1-2-…-300: plain min-label propagation moves the
    // min ONE edge per round (300 rounds ≫ the 50-round cap — this
    // test would throw non-convergence without the hop); the label-of-
    // label hop halves the remaining distance each round, so the cap
    // comfortably holds. Also pins correctness: every node must land
    // exactly on the component min, not merely stabilize.
    val pairs = (0L until 300L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val r = Dedup.components(pairs).collect()
    assert(r.length === 301)
    assert(r.forall(_.getLong(1) == 0L))
  }

  test("NativeVector yields NULL on null array elements, like the HOF form") {
    import graft.functions.NativeVector
    import spark.implicits._
    val df = Seq((Array[java.lang.Float](1.0f, null, 2.0f), Array[java.lang.Float](1.0f, 1.0f, 1.0f)))
      .toDF("a", "b")
    val r = df.select(
      NativeVector.dot($"a", $"b").as("nd"),
      VectorOps.dot($"a", $"b").as("hd"),
      NativeVector.cosine($"a", $"b").as("nc")).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("VectorOps.cosine: identity, orthogonality") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0f, 2.0f), Array(1.0f, 0f, 2.0f), Array(0f, 5.0f, 0f)))
      .toDF("a", "b", "o")
    val r = df.select(VectorOps.cosine($"a", $"b"), VectorOps.cosine($"a", $"o")).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("NativeHash.md5Hash60 is bit-identical to the composed conv(substring(md5)) form") {
    import spark.implicits._
    // whole corpus' shingles + adversarial strings (empty, unicode,
    // long, leading-zero-nibble digests all occur across 10k+ inputs)
    val docs = Tables.documents(spark, sf)
    val corpus = TextHash.shingleRows(docs).select(col("s"))
    val edge = Seq("", " ", "a", "é¿Ω✓", "x" * 10000, "0", "\t\n").toDF("s")
    val both = corpus.unionByName(edge)
      .select(TextHash.hash60Composed(col("s")).as("c"),
        graft.functions.NativeHash.md5Hash60(col("s")).as("n"))
    assert(both.filter(col("c") =!= col("n") ||
      col("c").isNull =!= col("n").isNull).count() === 0)
    // null in → null out, like md5
    val nulls = Seq[Option[String]](None).toDF("s")
      .select(graft.functions.NativeHash.md5Hash60(col("s")).as("n")).head
    assert(nulls.isNullAt(0))
  }

  test("CharHist.charHist matches the composed per-index substring histogram") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val edge = Seq((-1L, "aába𝄞𝄞b"), (-2L, " "), (-3L, "zzzz"))
      .toDF("doc_id", "text")
    val both = docs.unionByName(edge).filter(length(col("text")) > 0)
    val composed = both.select(col("doc_id"),
        explode(expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")).as("c"))
      .groupBy("doc_id", "c").agg(count(lit(1)).as("nc"))
    val native = both.select(col("doc_id"),
        explode(graft.functions.CharHist.charHist(col("text")))).toDF("doc_id", "c", "nc")
    assert(native.join(composed, Seq("doc_id", "c"), "full_outer")
      .filter(composed("nc").isNull || native("nc").isNull ||
        composed("nc") =!= native("nc")).count() === 0)
    // null in → null out; empty string → empty map (no phantom rows)
    val nh = Seq[Option[String]](None, Some("")).toDF("s")
      .select(graft.functions.CharHist.charHist(col("s")).as("h"))
      .select(col("h"), size(col("h")).as("n")).collect()
    assert(nh.exists(r => r.isNullAt(0)))
    assert(nh.exists(r => !r.isNullAt(0) && r.getAs[Int]("n") === 0))
  }

  test("spanCorruption: spans are in-bounds, non-overlapping, ~15% of tokens masked") {
    val docs = Tables.documents(spark, sf)
    val spans = TextOps.spanCorruption(docs).collect()
    assert(spans.nonEmpty)
    spans.foreach { s =>
      val start = s.getAs[Long]("start_pos"); val len = s.getAs[Long]("span_len")
      assert(start >= 1 && len >= 1 && start + len - 1 <= s.getAs[Long]("n_tokens"))
    }
    // non-overlap within each doc
    spans.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, ss) =>
      val ivs = ss.map(s => (s.getAs[Long]("start_pos"),
        s.getAs[Long]("start_pos") + s.getAs[Long]("span_len") - 1)).sortBy(_._1).toSeq
      ivs.zip(ivs.drop(1)).foreach { case ((_, e1), (s2, _)) =>
        assert(e1 < s2, "overlapping spans")
      }
    }
    val nTok = docs.select(expr("sum(size(split(text, ' ')))")).head.getLong(0)
    val masked = spans.map(_.getAs[Long]("span_len")).sum
    val ratio = masked.toDouble / nTok
    assert(ratio > 0.10 && ratio < 0.20, s"mask ratio $ratio out of the T5 band")
  }

  test("trainMixOrder: head is dense 1..N and up-samples small sources toward sqrt proportions") {
    val docs = Tables.documents(spark, sf)
    val head = TextOps.trainMixOrder(docs, topN = 100).collect()
    assert(head.map(_.getAs[Long]("pos")).sorted.toSeq === (1L to 100L))
    // within each source, ranks appear in order along the schedule
    head.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val rs = rows.sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("r"))
      assert(rs.toSeq === rs.sorted.toSeq)
    }
    // sqrt-temperature head shares: each source's count tracks
    // 100·sqrt(n_s)/Σsqrt within rounding slack
    val sizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val denom = sizes.values.map(n => math.sqrt(n.toDouble)).sum
    val got = head.groupBy(_.getAs[String]("source")).map { case (s, r) => s -> r.length }
    sizes.foreach { case (s, n) =>
      val expected = 100.0 * math.sqrt(n.toDouble) / denom
      assert(math.abs(got.getOrElse(s, 0) - expected) <= 2,
        s"source $s: ${got.getOrElse(s, 0)} head slots vs ~$expected")
    }
  }

  test("bpeFertility: every source pays at least one subtoken per word and one char per subtoken") {
    val r = TextOps.bpeFertility(Tables.documents(spark, sf)).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("n_subtokens") >= x.getAs[Long]("n_words"))
      assert(x.getAs[Double]("fertility") >= 1.0)
      assert(x.getAs[Double]("chars_per_subtoken") >= 1.0)
    }
  }

  test("bpeCurve: more merges never increase subtoken count; prefix-32 equals bpeStats totals") {
    val docs = Tables.documents(spark, sf)
    val curve = TextOps.bpeCurve(docs).collect()
      .map(r => r.getAs[Long]("n_merges") ->
        (r.getAs[Long]("n_subtokens"), r.getAs[Double]("chars_per_subtoken"))).toMap
    assert(curve.keySet === Set(8L, 16L, 32L))
    assert(curve(8L)._1 >= curve(16L)._1 && curve(16L)._1 >= curve(32L)._1,
      "a merge can only shrink the token stream")
    assert(curve(8L)._2 <= curve(16L)._2 && curve(16L)._2 <= curve(32L)._2)
    // the 32-merge point must agree with bpeStats' per-doc ledger
    val total = TextOps.bpeStats(docs).agg(sum(col("n_bpe_tokens"))).head.getLong(0)
    assert(curve(32L)._1 === total)
  }

  test("matryoshkaRecall: full-dim row is a perfect self-check; prefix recalls are valid shares") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.matryoshkaRecall(emb).collect()
    val qs = Similarity.DefaultQueryIds.toSet
    assert(r.map(_.getAs[Long]("q_id")).toSet === qs)
    assert(r.length === 4 * qs.size) // one row per (d, query)
    r.foreach { x =>
      val rec = x.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      if (x.getAs[Long]("d") == Similarity.Dim.toLong)
        assert(rec === 1.0, s"full-dim truth must recall itself: $x")
    }
    // averaged over queries, more prefix dims never hurt by much: the
    // d=32 mean must at least reach the d=8 mean (generator embeddings
    // concentrate mass in no particular prefix, so this is a real signal)
    def mean(d: Long) = {
      val v = r.filter(_.getAs[Long]("d") == d).map(_.getAs[Double]("recall"))
      v.sum / v.length
    }
    assert(mean(32L) >= mean(8L) - 1e-9, s"d=32 mean ${mean(32L)} < d=8 mean ${mean(8L)}")
  }

  test("recallCurve agrees with recallAtK at k=10 for the multi-probe method") {
    val emb = Tables.embeddings(spark, sf)
    val curve = Similarity.recallCurve(emb).collect()
      .filter(_.getAs[Long]("k") == 10L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall")).toMap
    val point = Similarity.recallAtK(emb, Similarity.DefaultQueryIds).collect()
      .filter(_.getAs[String]("method") == "ann_mp")
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall")).toMap
    assert(curve.keySet === point.keySet)
    curve.foreach { case (q, rec) =>
      assert(math.abs(rec - point(q)) < 1e-9, s"q $q: curve $rec vs point ${point(q)}")
    }
  }

  test("Bench rerun policy: floor-relative suspects, sf-scoped floors, phantom anywhere gets a slot") {
    val floors = Bench.parseFloors(
      """{"metric":"total","value":9.9,"unit":"sec","queries":{"q_a":1.0,"q_b":0.4,"q_fail":-1},""" +
        """"reruns":{"q_a":{"first":3.0,"rerun":1.0}},"sf":"/data/sf0.1"}""",
      "/data/sf0.1")
    assert(floors === Map("q_a" -> 1.0, "q_b" -> 0.4)) // -1 failure never a floor
    // wrong sf → no floors transfer (an sf0.001 smoke must not set bars)
    assert(Bench.parseFloors("""{"queries":{"q_a":1.0},"sf":"/data/sf0.001"}""",
      "/data/sf0.1") === Map.empty)
    // q_a at 2.4x floor: not suspect; q_a at 2.6x floor AND > 3s: suspect
    // q_b small in absolute terms: never suspect below the 3s bar
    // q_new (no floor) uses the 3s bar alone; failures excluded
    val res = Seq("q_a" -> 2.4, "q_b" -> 1.2, "q_new" -> 2.9, "q_fail" -> -1.0)
    assert(Bench.rerunCandidates(res, floors) === Seq.empty)
    val res2 = Seq("q_a" -> 3.1, "q_new" -> 3.4, "q_b" -> 0.9)
    assert(Bench.rerunCandidates(res2, floors).toSet === Set("q_a", "q_new"))
    // cap at 15, slowest first
    val many = (1 to 30).map(i => s"q_$i" -> (3.0 + i))
    val picked = Bench.rerunCandidates(many, Map.empty)
    assert(picked.length === 15 && picked.head === "q_30")
  }

  test("Bench.parseFloors: real JSON parser survives nested objects and sf-like strings") {
    // the old substring parser truncated at the first '}' after
    // "queries":{ and sf-scoped via whole-file substring match; pin the
    // jackson behavior on exactly the shapes that broke it
    val nested = """{"metric":"total","queries":{"q_a":1.5,"q_b":0.4},""" +
      """"reruns":{"q_a":{"first":9.0,"rerun":1.5}},"sf":"/data/sf0.1"}"""
    assert(Bench.parseFloors(nested, "/data/sf0.1") === Map("q_a" -> 1.5, "q_b" -> 0.4))
    // an sf-like string in ANOTHER field must not satisfy the scope check
    val decoy = """{"note":"ran at \"sf\":\"/data/sf0.1\" earlier",""" +
      """"queries":{"q_a":2.0},"sf":"/data/sf0.001"}"""
    assert(Bench.parseFloors(decoy, "/data/sf0.1") === Map.empty)
    // malformed file degrades to no floors (3s absolute bar remains), no throw
    assert(Bench.parseFloors("{not json", "/data/sf0.1") === Map.empty)
    assert(Bench.parseFloors("""{"queries":[1,2],"sf":"/x"}""", "/x") === Map.empty)
    // round-trip pin: the exact line Bench.main writes is what parseFloors reads
    val written = """{"metric":"total","value":3.90,"unit":"sec","queries":""" +
      """{"q_x":1.200,"q_y":2.700,"q_dead":-1},"reruns":{},"sf":"/data/sf0.1"}"""
    assert(Bench.parseFloors(written, "/data/sf0.1") === Map("q_x" -> 1.2, "q_y" -> 2.7))
  }

  test("Bench.crossSfDivert: a different-sf board diverts instead of clobbering the floor record") {
    // floors were already sf-scoped on READ, but the WRITE was
    // last-writer: one sf0.001 smoke board replaced the sf0.1 floor
    // record, disabling phantom detection for the driver's next board
    val rec = """{"metric":"total","queries":{"q_a":1.0},"sf":"/data/sf0.1"}"""
    assert(Bench.crossSfDivert(Some(rec), "/data/sf0.001"))  // mismatch → divert
    assert(!Bench.crossSfDivert(Some(rec), "/data/sf0.1"))   // same sf → overwrite
    assert(!Bench.crossSfDivert(None, "/anything"))          // no record → seed it
    assert(!Bench.crossSfDivert(Some("{not json"), "/x"))    // unreadable → replace
    assert(!Bench.crossSfDivert(Some("""{"queries":{}}"""), "/x")) // sf-less legacy
  }

  test("Bench.ratchetFloors: floors only descend; busy boards can't inflate rerun bars") {
    // the round-9 hole: a busy-window full board OVERWROTE quiet floors
    // (last-writer-wins), raising the 2.5x rerun bars so the next run's
    // phantoms escaped vetting. Floors must be min(prior, new reading).
    val prior = Map("q_a" -> 1.0, "q_b" -> 4.0, "q_gone" -> 2.0)
    val busy = Seq("q_a" -> 1.7, "q_b" -> 3.1, "q_new" -> 2.2, "q_fail" -> -1.0)
    val r = Bench.ratchetFloors(prior, busy)
    assert(r("q_a") === 1.0)   // busier reading never raises a floor
    assert(r("q_b") === 3.1)   // faster reading tightens it
    assert(r("q_new") === 2.2) // first sighting seeds the floor
    assert(r("q_gone") === 2.0) // absent query's floor carries forward
    assert(!r.contains("q_fail")) // -1 never becomes a floor
    // parseFloors prefers the ratcheted floors field over the measured
    // board, and still degrades to queries on pre-ratchet records
    val withFloors = """{"metric":"total","queries":{"q_a":9.0},""" +
      """"floors":{"q_a":1.0,"q_b":-1},"sf":"/data/sf0.1"}"""
    assert(Bench.parseFloors(withFloors, "/data/sf0.1") === Map("q_a" -> 1.0))
    assert(Bench.parseFloors(withFloors, "/data/sf0.001") === Map.empty)
    // round-trip: the exact floors field Bench.main writes is what the
    // next run reads back
    val line = """{"metric":"total","value":9.0,"unit":"sec","queries":{"q_a":9.0},""" +
      """"reruns":{},"floors":{"q_a":1.0},"sf":"/data/sf0.1"}"""
    val floors1 = Bench.parseFloors(line, "/data/sf0.1")
    assert(floors1 === Map("q_a" -> 1.0))
    // two busy boards in a row: the floor is unchanged after both
    assert(Bench.ratchetFloors(Bench.ratchetFloors(floors1, Seq("q_a" -> 8.0)),
      Seq("q_a" -> 7.0)) === Map("q_a" -> 1.0))
  }

  test("Bench.secondPass: converging rerun plan vets cap-starved leftovers; storm uncaps") {
    val floors = Map.empty[String, Double]
    // 20 candidates above the 3s bar; pass 1 took the 15 slowest
    val res = (1 to 20).map(i => s"q_$i" -> (3.0 + i)) :+ ("q_fast" -> 0.5)
    val p1names = Bench.rerunCandidates(res, floors)
    assert(p1names.length === 15 && !p1names.contains("q_1"))
    // quiet host: reruns confirm the firsts (collapse ~1x) → leftovers get a
    // capped second batch — q_1..q_5 all vetted
    val quietP1 = p1names.map(n => n -> res.find(_._1 == n).get._2).toMap
    val p2quiet = Bench.secondPass(res, floors, quietP1)
    assert(p2quiet.toSet === Set("q_1", "q_2", "q_3", "q_4", "q_5"))
    assert(p2quiet.head === "q_5") // slowest-first within the batch
    // storm: pass-1 reruns collapse >2x → ALL leftovers rerun even past the cap
    val bigRes = (1 to 40).map(i => s"q_$i" -> (3.0 + i))
    val bigP1names = Bench.rerunCandidates(bigRes, floors)
    val bigStormP1 = bigP1names.map(n => n -> 0.9).toMap
    val p2storm = Bench.secondPass(bigRes, floors, bigStormP1)
    assert(p2storm.toSet === (1 to 25).map(i => s"q_$i").toSet) // 40-15=25 > cap, uncapped
    // a query already rerun in pass 1 never reruns again
    assert(p2storm.toSet.intersect(bigP1names.toSet) === Set.empty)
    // no candidates at all → empty second pass
    assert(Bench.secondPass(Seq("q_a" -> 1.0), floors, Map.empty) === Seq.empty)
  }

  test("Bench.thirdPass/aboveBar: storm-spanning readings escalate; quiet boards don't") {
    // BENCH_r10's residual hole: the steal storm outlived the rerun pass,
    // so 22 min-merged readings still sat >2.5x their ratcheted floors
    // (q_graph_modularity 9.63s recorded vs 3.10s floor). The escalation
    // contract: storm + above-bar residue -> cool-down third pass over
    // exactly that residue; anything still above bar is stamped degraded.
    val floors = Map("q_mod" -> 3.10, "q_ok" -> 2.0, "q_slow" -> 1.0)
    // post-min-merge board: q_mod at 9.63 (3.1x floor), q_ok at its floor,
    // q_slow at 2.4x floor (below the 2.5x bar), q_tiny under the 3s bar
    val board = Seq("q_mod" -> 9.63, "q_ok" -> 2.1, "q_slow" -> 2.4,
      "q_tiny" -> 0.4, "q_fail" -> -1.0)
    assert(Bench.aboveBar(board, floors) === Seq("q_mod"))
    // storm detected -> exactly the residue reruns (never the whole board)
    assert(Bench.thirdPass(board, floors, storm = true) === Seq("q_mod"))
    // quiet host -> a genuinely-slower query is the honest record, no pass 3
    assert(Bench.thirdPass(board, floors, storm = false) === Seq.empty)
    // a clean board under a storm escalates nothing
    assert(Bench.thirdPass(Seq("q_ok" -> 2.1), floors, storm = true) === Seq.empty)
    // floorless new query: only the 3s absolute bar applies
    assert(Bench.aboveBar(Seq("q_new" -> 3.5), Map.empty) === Seq("q_new"))
    assert(Bench.aboveBar(Seq("q_new" -> 2.9), Map.empty) === Seq.empty)
    // stormDetected: median pass-1 collapse > 2x, and only with >= 3
    // observations (a 1-2-query subset's JIT warm-up collapse is not a
    // storm; the real incidents fired 15-35 reruns)
    val res = Seq("q_a" -> 10.0, "q_b" -> 9.0, "q_c" -> 8.0)
    assert(Bench.stormDetected(res, Map("q_a" -> 2.0, "q_b" -> 2.0, "q_c" -> 2.0)))
    assert(!Bench.stormDetected(res, Map("q_a" -> 9.5, "q_b" -> 8.7, "q_c" -> 7.9)))
    assert(!Bench.stormDetected(res, Map.empty))
    assert(!Bench.stormDetected(res, Map("q_a" -> 2.0, "q_b" -> 2.0))) // 2 samples
  }

  test("Bench.divertName: subset and cross-sf boards get distinct divert files") {
    // ADVICE r10: subset runs and cross-sf boards shared bench_only.json,
    // each silently erasing the other's scratch record
    assert(Bench.divertName(subset = true, "/root/testdata/sf0.1") === "bench_only_subset.json")
    assert(Bench.divertName(subset = false, "/root/testdata/sf0.001") === "bench_only_sf0.001.json")
    assert(Bench.divertName(subset = false, "target/sf1/") === "bench_only_sf1.json")
    // path-hostile leaf chars are sanitized, never nested
    assert(!Bench.divertName(subset = false, "/a/b c/").contains(" "))
    assert(Bench.divertName(subset = false, "") === "bench_only_sf.json")
  }

  test("ScaleUp.rotateEmbeddings: every clone > 0 gets a non-zero rotation") {
    import spark.implicits._
    // dim 64 = Similarity.Dim: the old clone*7+1 formula hit shift 0 at
    // clone 9 (pmod(64,64)), aliasing clone 9 byte-exact onto clone 0
    val base = (0 until 64).map(_.toFloat / 64f)
    val rows = (0L until 13L).map(c => (c, c * 1000L, base))
    val out = ScaleUp.rotateEmbeddings(
        rows.toDF("clone", "vec_id", "embedding"))
      .select(col("clone"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val orig = out.find(_._1 == 0L).get._2
    out.filter(_._1 > 0L).foreach { case (c, e) =>
      assert(e.toSeq !== orig.toSeq, s"clone $c aliased clone 0 byte-exact")
      assert(e.sorted.toSeq === orig.sorted.toSeq, s"clone $c is not a permutation")
    }
  }

  test("Similarity.bruteForceTopK returns k ranked neighbors per query") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.bruteForceTopK(emb, Seq(0L, 1L), k = 5)
    val byQ = r.groupBy("q_id").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(byQ === Map(0L -> 5L, 1L -> 5L))
    val ranks = r.filter(col("q_id") === 0).orderBy("rnk").collect().map(_.getAs[Long]("rnk"))
    assert(ranks.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("Similarity.annTopK results are a subset of brute-force candidates with same scoring") {
    val emb = Tables.embeddings(spark, sf)
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), k = 500).select("vec_id", "cos")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annTopK(emb, Seq(0L), k = 10).collect()
    ann.foreach { r =>
      val (v, c) = (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))
      assert(bf.contains(v) && math.abs(bf(v) - c) < 1e-12)
    }
  }

  test("Similarity.knnGraph: banded edges score exactly, mutual flags are symmetric, ranks dense") {
    val emb = Tables.embeddings(spark, sf)
    val g = Similarity.knnGraph(emb, k = 5).collect()
    assert(g.nonEmpty)
    val bySrc = g.groupBy(_.getAs[Long]("src_id"))
    bySrc.values.foreach { edges =>
      // dense ranks from 1, distinct destinations
      assert(edges.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to edges.length).toSeq)
      assert(edges.map(_.getAs[Long]("dst_id")).distinct.length === edges.length)
      // ranked by descending cosine
      val byRnk = edges.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos"))
      assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a >= b })
    }
    // mutual is EXACTLY "reverse edge is also in the graph"
    val edgeSet = g.map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("dst_id"))).toSet
    g.foreach { r =>
      val rev = (r.getAs[Long]("dst_id"), r.getAs[Long]("src_id"))
      assert(r.getAs[Boolean]("mutual") === edgeSet.contains(rev))
    }
    // edge scores equal the exact cosine (same trunc4 scoring as brute force)
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), k = 500).select("vec_id", "cos")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    g.filter(_.getAs[Long]("src_id") == 0L).foreach { r =>
      assert(math.abs(bf(r.getAs[Long]("dst_id")) - r.getAs[Double]("cos")) < 1e-12)
    }
  }

  test("Similarity.calibration: bins partition the corpus, confidences sit inside their bin") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.calibration(emb).collect()
    assert(r.nonEmpty)
    // every vector except the reference lands in exactly one bin
    assert(r.map(_.getAs[Long]("n")).sum === emb.count() - 1)
    r.foreach { x =>
      val bin = x.getAs[Long]("bin")
      val conf = x.getAs[Double]("conf")
      // conf is the mean of scores mapped into [0,1]; it must fall in
      // the bin's own [bin/10, (bin+1)/10] band (trunc slack)
      assert(conf >= bin / 10.0 - 1e-4 && conf <= (bin + 1) / 10.0 + 1e-4)
      val rate = x.getAs[Double]("pos_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      // gap identity
      assert(math.abs(x.getAs[Double]("gap") -
        math.floor(math.abs(rate - conf) * 10000) / 10000) < 2e-4)
    }
  }

  test("Similarity.ivfTopK scores like brute force, searches only probed lists, is deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), k = 500).select("vec_id", "cos")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(emb, Seq(0L), k = 10).collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    // candidates are a subset of the exact-scored universe with identical scores
    ivf.foreach { r =>
      val (v, c) = (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))
      assert(bf.contains(v) && math.abs(bf(v) - c) < 1e-12)
    }
    // ranks are dense from 1
    assert(ivf.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to ivf.length).toSeq)
    // deterministic across runs (assignment + probe have no randomness)
    val again = Similarity.ivfTopK(emb, Seq(0L), k = 10).collect()
    assert(ivf.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("Similarity.trainedCentroids improves IVF list-size balance over the seed set") {
    val emb = Tables.embeddings(spark, sf)
    val v = Similarity.withEmbD(emb)
    def sizes(cents: org.apache.spark.sql.DataFrame): Seq[Long] =
      Similarity.assignTo(v, cents).groupBy("list_id").count()
        .collect().map(_.getLong(1)).toSeq
    def spread(s: Seq[Long]): Double = {
      val m = s.sum.toDouble / s.length
      math.sqrt(s.map(x => (x - m) * (x - m)).sum / s.length)
    }
    val seed = sizes(Similarity.seedCentroids(v))
    val trained = sizes(Similarity.trainedCentroids(v))
    // Lloyd steps move centroids toward cluster means → member counts
    // even out (the unbalanced-lists failure mode of a seed-set IVF)
    assert(spread(trained) < spread(seed),
      s"seed stddev ${spread(seed)} vs trained ${spread(trained)} (seed=$seed trained=$trained)")
    // every vector still lands in exactly one list
    assert(trained.sum === seed.sum)
  }

  test("Similarity.recallAtK: one row per (method, query); multi-probe dominates single-probe") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.recallAtK(emb, Seq(0L, 1L), k = 10).collect()
    assert(r.length === 8) // 4 methods × 2 queries
    assert(r.map(_.getAs[String]("method")).toSet === Set("ann", "ann_mp", "ivf", "rpt"))
    r.foreach { row =>
      val rec = row.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range: $row")
    }
    // multi-probe candidates are a superset of single-probe candidates
    // (the original band keys are among the probed variants), so its
    // recall can never be lower — per query
    val byQ = r.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { rows =>
      val m = rows.map(x => x.getAs[String]("method") -> x.getAs[Double]("recall")).toMap
      assert(m("ann_mp") >= m("ann"), s"multi-probe lost recall: $m")
    }
  }

  test("SqlCoverage.funnel: conversion only when a view precedes a purchase in-session") {
    import spark.implicits._
    val ms = 60000L
    def ev(id: Long, user: Long, kind: String, minute: Long) = (id, user, kind, minute * ms)
    val events = Seq(
      // user 1, one session: view then purchase → converted
      ev(1, 1, "view", 0), ev(2, 1, "purchase", 5),
      // user 2, one session: purchase then view → NOT converted
      ev(3, 2, "purchase", 0), ev(4, 2, "view", 5),
      // user 3: view, then a >30min gap, purchase in a NEW session → not converted
      ev(5, 3, "view", 0), ev(6, 3, "purchase", 60),
      // user 4: view only
      ev(7, 4, "view", 0)
    ).toDF("event_id", "user_id", "event_type", "ts_ms")
    val r = SqlCoverage.funnel(events).collect()
      .map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Long]("n_sessions"), x.getAs[Long]("n_converted"))).toMap
    assert(r(1L) === (1L, 1L))
    assert(r(2L) === (1L, 0L))
    assert(r(3L) === (2L, 0L))
    assert(r(4L) === (1L, 0L))
  }

  test("TextOps.weightedSample keeps long docs surely, is deterministic, respects the coin") {
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, "t", "en", "s", if (i < 100) 4000L else 10L)) // long docs: p=1; short: p=0.005
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = TextOps.weightedSample(docs).collect()
    // p = 1 docs are ALWAYS kept
    assert(r1.count(_.getAs[Long]("n_chars") == 4000L) === 100)
    // short docs kept only on a sub-0.5% coin — far fewer than half survive
    assert(r1.count(_.getAs[Long]("n_chars") == 10L) < 50)
    // deterministic: second run identical
    val r2 = TextOps.weightedSample(docs).collect()
    assert(r1.map(_.getAs[Long]("doc_id")).sorted.toSeq ===
      r2.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("TextOps.trainSplit: splits partition the corpus, roughly 80/10/10, stable under growth") {
    val full = Tables.documents(spark, sf)
    val r = TextOps.trainSplit(full).collect()
    val bySplit = r.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val total = bySplit.values.sum
    assert(total === full.count())
    assert(bySplit("train").toDouble / total > 0.7 && bySplit("train").toDouble / total < 0.9)
    // stability: restricting the corpus never moves a doc between splits
    val sub = TextOps.trainSplit(full.filter(col("doc_id") % 2 === 0)).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[String]("split")) -> x.getAs[Long]("n_docs")).toMap
    sub.foreach { case (k, n) =>
      val fullN = r.find(x => (x.getAs[String]("lang"), x.getAs[String]("split")) == k)
        .map(_.getAs[Long]("n_docs")).getOrElse(0L)
      assert(n <= fullN, s"split $k grew when the corpus shrank")
    }
  }

  test("TextOps.sparseSim: near-identical docs pair high, unrelated docs don't pair") {
    val r = TextOps.sparseSim(docsDF, maxDf = 50L, minCos = 0.2).collect()
    // docs 0 and 1 differ by one trailing token → share most shingles
    assert(r.exists(x => x.getAs[Long]("doc_a") == 0L && x.getAs[Long]("doc_b") == 1L),
      s"expected (0,1) pair, got ${r.mkString(",")}")
    val p01 = r.find(x => x.getAs[Long]("doc_a") == 0L && x.getAs[Long]("doc_b") == 1L).get
    assert(p01.getAs[Double]("cos_sim") > 0.5)
    assert(p01.getAs[Long]("n_terms") >= 5L)
    // doc 2 shares no shingles with 0/1
    assert(!r.exists(x => x.getAs[Long]("doc_b") == 2L || x.getAs[Long]("doc_a") == 2L))
    // cosine is bounded
    r.foreach(x => assert(x.getAs[Double]("cos_sim") <= 1.0))
  }

  test("Similarity.vecProject: 8 projections per vector, linearity holds") {
    import spark.implicits._
    val e1 = Array.fill(64)(1.0f)
    val e0 = Array.fill(64)(0.0f)
    val emb = Seq((0L, e1, 0), (1L, e0, 0)).toDF("vec_id", "embedding", "label")
    val r = Similarity.vecProject(emb).collect()
    assert(r.length === 16) // 2 vectors × 8 dims
    // zero vector projects to zero in every dim
    r.filter(_.getAs[Long]("vec_id") == 1L)
      .foreach(x => assert(x.getAs[Double]("p") === 0.0))
    // all-ones vector: projection j = sum of column j's ±1 signs — an
    // integer in [-64, 64] with |p| <= 64 and parity matching 64
    r.filter(_.getAs[Long]("vec_id") == 0L).foreach { x =>
      val p = x.getAs[Double]("p")
      assert(p == math.rint(p) && math.abs(p) <= 64.0)
      assert(math.abs(p % 2) === 0.0) // 64 terms of ±1 sum to an even number
    }
    // spot-check one projection against the scalar definition
    val p0 = r.find(x => x.getAs[Long]("vec_id") == 0L && x.getAs[Long]("j") == 0L).get
    val expected = (0 until 64).map(i => Similarity.projSign(i, 0)).sum
    assert(p0.getAs[Double]("p") === expected)
  }

  test("Similarity.vectorDq: zero vectors, ragged dims, and norm bounds surface per label") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),   // unit-ish
      (2L, Array(0.0f, 0.0f, 0.0f), 0),   // all-zero: encoder bug
      (3L, Array(2.0f, 2.0f), 1))         // ragged: 2 dims, big norm
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.vectorDq(emb).collect()
      .map(x => x.getAs[Long]("label") -> x).toMap
    assert(r(0L).getAs[Long]("n_vecs") === 2L)
    assert(r(0L).getAs[Long]("n_zero_vecs") === 1L)
    assert(r(0L).getAs[Long]("min_qn2") === 0L)
    assert(r(0L).getAs[Long]("min_dims") === 3L && r(0L).getAs[Long]("max_dims") === 3L)
    // label 1 holds the ragged 2-dim vector with the global max |x| = 2
    // ⇒ its dims quantize to ±127 exactly: qn2 = 2 · 127²
    assert(r(1L).getAs[Long]("min_dims") === 2L)
    assert(r(1L).getAs[Long]("max_qn2") === 2L * 127L * 127L)
    assert(r(1L).getAs[Long]("n_zero_vecs") === 0L)
  }

  test("Similarity.vectorDq: zero-LENGTH vector is not counted zero, surfaces via min_dims") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 2.0f), 0),
      (2L, Array.empty[Float], 0)) // ragged empty: is_zero NULL, min_dims 0
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.vectorDq(emb).collect().head
    assert(r.getAs[Long]("n_vecs") === 2L)
    assert(r.getAs[Long]("n_zero_vecs") === 0L) // NULL is_zero doesn't count
    assert(r.getAs[Long]("min_dims") === 0L)    // but the empty row is visible
    assert(r.getAs[Long]("max_dims") === 2L)
  }

  test("Similarity.quantizeAudit: int8 reconstruction error bounded by one quantization step") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.quantizeAudit(emb).collect()
    assert(r.length === emb.count().toInt) // one audit row per vector
    r.foreach { row =>
      val (s, e) = (row.getAs[Double]("scale"), row.getAs[Double]("max_err"))
      assert(s > 0)
      // round-to-nearest: |x − q·s| ≤ s/2 (tiny slack for trunc6 of
      // the two sides truncating independently)
      assert(e <= s / 2 + 1e-6,
        s"err $e exceeds half-step ${s / 2} for vec ${row.getAs[Long]("vec_id")}")
      assert(row.getAs[Long]("n_zero") >= 0L)
    }
  }

  test("Dedup.incrementalDedup flags exactly the batch docs whose content is registered") {
    val docs = Tables.documents(spark, sf)
    val r = Dedup.incrementalAudit(docs).collect()
    val (copies, fresh) = r.partition(_.getAs[Long]("doc_id") >= Dedup.CopyOffset)
    assert(copies.length === 50)
    // every planted copy of a registry doc is rejected
    assert(copies.forall(_.getAs[Boolean]("already_ingested")))
    // fresh docs (near-dups at most, never exact) are all accepted
    assert(fresh.nonEmpty && fresh.forall(!_.getAs[Boolean]("already_ingested")))
  }

  test("TextOps.normalize restores perturbed copies; normalized dedup collapses to pairs") {
    val docs = Tables.documents(spark, sf)
    val nDocs = docs.count()
    val groups = TextOps.dedupNormalized(docs).collect()
    // every original + its messy copy collapse into one group of 2
    assert(groups.length === nDocs.toInt)
    assert(groups.forall(_.getAs[Long]("n_copies") === 2L))
    // the control: RAW-text md5 on the same perturbed corpus finds no
    // duplicates at all — normalization is what makes the dedup possible
    val rawDups = TextOps.perturbed(docs)
      .groupBy(md5(col("text"))).count().filter(col("count") > 1).count()
    assert(rawDups === 0L)
  }

  test("TextOps.decontaminate flags near-dups of the benchmark slice, never the slice itself") {
    val docs = Tables.documents(spark, sf)
    val r = TextOps.decontaminate(docs).collect()
    // the generator plants near-dups, some of benchmark (%97) docs —
    // those training docs must surface with 5-gram overlap
    assert(r.nonEmpty, "no contaminated docs found (corpus plants near-dups)")
    assert(r.forall(_.getAs[Long]("doc_id") % 97 != 0), "benchmark doc flagged as training")
    assert(r.forall(row =>
      row.getAs[Long]("n_hits") >= row.getAs[Long]("n_distinct_grams") &&
        row.getAs[Long]("n_distinct_grams") > 0))
  }

  test("TextOps.seqPacking: contiguous offsets, correct pack spans, block-size invariant") {
    val docs = Tables.documents(spark, sf)
    val r = TextOps.seqPacking(docs, capacity = 100).orderBy("doc_id").collect()
    assert(r.length === docs.count().toInt)
    // concat-and-chunk: each doc starts exactly where the previous ended
    r.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("tok_offset") ===
        a.getAs[Long]("tok_offset") + a.getAs[Long]("n_tokens"))
      case _ =>
    }
    r.foreach { row =>
      val (off, n) = (row.getAs[Long]("tok_offset"), row.getAs[Long]("n_tokens"))
      assert(row.getAs[Long]("first_pack") === off / 100)
      assert(row.getAs[Long]("last_pack") === (off + n - 1) / 100)
    }
    // the two-phase cumsum is independent of the block partitioning
    val other = TextOps.seqPacking(docs, capacity = 100, blockSize = 7L)
      .orderBy("doc_id").collect()
    assert(r.map(_.toString).toSeq === other.map(_.toString).toSeq)
  }

  test("TextOps.stratifiedSample: exactly n per language, deterministic, skew-independent") {
    val docs = Tables.documents(spark, sf)
    val r = TextOps.stratifiedSample(docs, n = 10).collect()
    val perLang = r.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    val langSizes = docs.groupBy(col("lang")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // every language with ≥ 10 docs contributes exactly 10; smaller ones all
    langSizes.foreach { case (lang, sz) =>
      assert(perLang.getOrElse(lang, 0) === math.min(10L, sz).toInt, s"lang $lang")
    }
    // reproducible
    val again = TextOps.stratifiedSample(docs, n = 10).collect()
    assert(r.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("TextOps.chunks: boundary sizes, content hash, cross-doc duplicate detection") {
    // doc 0 has 13 tokens → size=5 gives chunks of 5, 5, 3
    val r = TextOps.chunks(docsDF, chunkSize = 5)
    val d0 = r.filter(col("doc_id") === 0).orderBy("chunk_idx").collect()
    assert(d0.map(_.getAs[Long]("n_tokens")).toSeq === Seq(5L, 5L, 3L))
    assert(d0.map(_.getAs[Long]("chunk_idx")).toSeq === Seq(0L, 1L, 2L))
    // docs 0 and 1 share their first 10 tokens → chunks 0 and 1 dedup
    // across docs (n_same = 2), the differing tails do not
    val d0Same = d0.map(r => r.getAs[Long]("chunk_idx") -> r.getAs[Long]("n_same")).toMap
    assert(d0Same === Map(0L -> 2L, 1L -> 2L, 2L -> 1L))
    // chunk hash is the hash60 of the space-joined chunk text
    import spark.implicits._
    val expect = Seq("the quick brown fox jumps").toDF("s")
      .select(TextHash.hash60(col("s"))).head.getLong(0)
    assert(d0.head.getAs[Long]("chunk_hash") === expect)
  }

  test("TextOps.langId prefers English for a stopword-rich English sentence") {
    val r = TextOps.langId(docsDF).filter(col("doc_id") === 0).head
    assert(r.getAs[String]("predicted") === "en")
    assert(r.getAs[Double]("score_en") > 0.1)
  }

  test("TextOps.quality: exact mean token length and TTR") {
    val r = TextOps.quality(docsDF).filter(col("doc_id") === 0).head
    // 13 tokens, n_chars=62 → (62-13+1)/13 = 50/13
    assert(r.getAs[Long]("n_tokens") === 13L)
    assert(r.getAs[Double]("avg_tok_len") === math.floor(50.0 / 13 * 10000) / 10000)
    assert(r.getAs[Double]("type_token_ratio") === math.floor(12.0 / 13 * 10000) / 10000)
  }

  test("TextOps.fingerprints: winnowing emits ≤ m-w+1 distinct mins") {
    val n = TextOps.fingerprints(docsDF).filter(col("doc_id") === 0).count()
    // 13 tokens → 11 shingles → 8 windows of 4 → ≤ 8 distinct mins
    assert(n > 0 && n <= 8)
  }

  test("Media: typed mapPartitions decode agrees with the expression path") {
    val docs = Tables.documents(spark, sf)
    val exprPath = Media.features(docs)
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"), col("n_frames"))
    val typedPath = Media.decodeTyped(spark, docs).toDF()
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"), col("n_frames"))
    assert(exprPath.exceptAll(typedPath).count() === 0)
    assert(typedPath.exceptAll(exprPath).count() === 0)
  }

  test("AsofNative: custom physical operator agrees with the composed union+window form") {
    import graft.operators.AsofNative
    val ev = Tables.events(spark, sf)
    val native = AsofNative.purchaseView(ev)
    val composed = Analytics.asofPurchaseView(ev)
    assert(native.count() > 0)
    assert(native.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(native).count() === 0)
    // and the plan really is the custom exec with sort-merge children
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan) // SparkPlan.nodeName strips the Exec suffix
  }

  test("AsofNative: edge semantics — equal timestamps match, missing key yields null") {
    import graft.operators.AsofNative
    import spark.implicits._
    val l = Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 99L, 50L))
      .toDF("l_id", "l_key", "l_ts")
    val r = Seq((7L, 10L, 100L), (8L, 10L, 40L), (9L, 20L, 300L))
      .toDF("r_id", "r_key", "r_ts")
    val out = AsofNative.asofJoin(l, r, "l_key", "r_key", "l_ts", "r_ts", "r_id")
      .select($"l_id", $"r_id").collect()
      .map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Long])).toMap
    // l_id 1: r at SAME ts 100 matches (<=); l_id 2: only r at 300 > 200 → null
    assert(out === Map(1L -> Some(7L), 2L -> None, 3L -> None))
  }

  test("Analytics.asofPurchaseView: latest view at-or-before each purchase") {
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, 10L, "view"), (2L, 100L, 20L, "view"), (3L, 100L, 25L, "purchase"),
      (4L, 100L, 30L, "view"), (5L, 200L, 5L, "purchase"))
      .toDF("event_id", "user_id", "ts_ms", "event_type")
      .withColumn("ts", timestamp_millis($"ts_ms"))
    val r = Analytics.asofPurchaseView(ev).collect()
      .map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(r === Map(3L -> Some(2L), 5L -> None))
  }

  test("Analytics.rapidPairs counts in-window ordered pairs per user") {
    import spark.implicits._
    val ev = Seq((1L, 1L, 0L), (2L, 1L, 100L), (3L, 1L, 250L), (4L, 2L, 0L))
      .toDF("event_id", "user_id", "ts_ms")
    val r = Analytics.rapidPairs(ev, windowMs = 200L).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // user 1: (1,2) gap 100 ✓, (2,3) gap 150 ✓, (1,3) gap 250 ✗
    assert(r === Map(1L -> 2L))
  }

  test("Analytics.runningTotals is cumulative per customer") {
    import spark.implicits._
    val o = Seq((1L, 10L, "1995-01-01", 5.0), (2L, 10L, "1995-01-02", 7.0), (3L, 11L, "1995-01-01", 1.0))
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate", $"d".cast("date"))
    val r = Analytics.runningTotals(o).collect()
      .map(x => x.getLong(1) -> x.getDouble(2)).toMap
    assert(r === Map(1L -> 5.0, 2L -> 12.0, 3L -> 1.0))
  }

  test("SqlCoverage.sessionize splits on the gap and aggregates per session") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 0L, 1.0), (2L, 1L, 1000L, 2.0),          // session 1
      (3L, 1L, 10_000_000L, 3.0),                        // session 2 (gap > 30 min)
      (4L, 2L, 0L, 4.0))                                 // other user
      .toDF("event_id", "user_id", "ts_ms", "value")
    val r = SqlCoverage.sessionize(ev).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(4)).toMap
    assert(r === Map((1L, 1L) -> 2L, (1L, 2L) -> 1L, (2L, 1L) -> 1L))
  }

  test("TextOps.repetition flags a repeated-bigram doc and passes varied prose") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spam spam spam spam spam spam spam spam spam spam"),
      (1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val r = TextOps.repetition(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 0: every bigram is "spam spam" → all three fractions are 1
    assert(r(0L).getAs[String]("verdict") === "repetitive")
    assert(r(0L).getAs[Double]("top_bigram_frac") === 1.0)
    // 8 trigram instances, 1 distinct → (8−1)/8
    assert(r(0L).getAs[Double]("dup_trigram_frac") === 0.875)
    // doc 1: all bigrams distinct → zero repetition
    assert(r(1L).getAs[String]("verdict") === "ok")
    assert(r(1L).getAs[Double]("dup_bigram_frac") === 0.0)
    assert(r(1L).getAs[Long]("n_bigrams") === 9L)
  }

  test("TextOps.redactPii counts each injected class once and rewrites the text") {
    val r = TextOps.redactPii(docsDF).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc_id % 5 picks the class: 0 → email, 1 → phone, 2 → ip
    assert((r(0L).getAs[Long]("n_emails"), r(0L).getAs[Long]("n_phones"),
      r(0L).getAs[Long]("n_ips")) === ((1L, 0L, 0L)))
    assert((r(1L).getAs[Long]("n_emails"), r(1L).getAs[Long]("n_phones"),
      r(1L).getAs[Long]("n_ips")) === ((0L, 1L, 0L)))
    assert((r(2L).getAs[Long]("n_emails"), r(2L).getAs[Long]("n_phones"),
      r(2L).getAs[Long]("n_ips")) === ((0L, 0L, 1L)))
    // the redacted hash differs from the injected text's hash (replacement
    // really happened) and no PII pattern survives redaction
    val redacted = TextOps.withPii(docsDF).select(
      col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>"), TextOps.IpRe, "<IP>").as("rt"))
    val leftover = redacted.filter(
      col("rt").rlike(TextOps.EmailRe) || col("rt").rlike(TextOps.PhoneRe) ||
        col("rt").rlike(TextOps.IpRe)).count()
    assert(leftover === 0L)
  }

  test("ScaleOps.mixtureSample: rate-1.0 source keeps everything, sampling never exceeds totals") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, if (i < 20) "src0" else "src9", s"text $i", 10L))
      .toDF("doc_id", "source", "text", "n_chars")
    val r = ScaleOps.mixtureSample(docs).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("src0").getAs[Double]("target_rate") === 1.0)
    assert(r("src0").getAs[Long]("n_sampled") === r("src0").getAs[Long]("n_total"))
    assert(r("src9").getAs[Long]("n_sampled") <= r("src9").getAs[Long]("n_total"))
    assert(r("src9").getAs[Long]("n_chars_sampled") === 10L * r("src9").getAs[Long]("n_sampled"))
  }

  test("Similarity.semanticDedup drops the planted copy, keeps orthogonal vectors") {
    import spark.implicits._
    // 19 one-hot (orthogonal) vectors + vec 19 = an exact copy of vec 5:
    // only the (5, 19) cluster-mate pair clears the cosine threshold
    val emb = (0L until 20L).map { i =>
      val a = Array.fill(64)(0f)
      a(if (i == 19L) 5 else i.toInt) = 1f
      (i, a)
    }.toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(emb).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("vec_id") === 19L)
    assert(r.head.getAs[Long]("dup_of") === 5L)
    assert(r.head.getAs[Long]("n_dups") === 1L)
    assert(r.head.getAs[Double]("best_cos") === 1.0)
  }

  test("Similarity.simDecontam flags the planted paraphrase-leak, ignores orthogonal held-out vectors") {
    import spark.implicits._
    // 30 one-hot vectors; held-out slice = multiples of 7 (0,7,14,21,28).
    // vec 14 is planted as an exact copy of TRAIN vec 3 — the only
    // cross-corpus pair above the threshold; every other held-out vector
    // is orthogonal to the whole train corpus
    val emb = (0L until 30L).map { i =>
      val a = Array.fill(64)(0f)
      a(if (i == 14L) 3 else i.toInt) = 1f
      (i, a)
    }.toDF("vec_id", "embedding")
    val r = Similarity.simDecontam(emb).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("q_id") === 14L)
    assert(r.head.getAs[Long]("train_match") === 3L)
    assert(r.head.getAs[Long]("n_matches") === 1L)
    assert(r.head.getAs[Double]("best_cos") === 1.0)
  }

  test("Similarity.simDecontam per-list cap bounds candidates and stays deterministic") {
    import spark.implicits._
    // one dense cluster: 40 train clones of the same direction + 1
    // held-out copy. With maxPerList=8 the probe compares against ≤ 8
    // train vectors per probed list — the cap binds (n_matches ≤ 8·NProbe,
    // here ≤ 8 since all clones share one list) yet the leak still
    // surfaces, and two runs agree exactly (hash-order thinning)
    val emb = ((1L to 47L).filter(_ % 7L != 0L).map { i =>
      val a = Array.fill(64)(0f); a(5) = 1f; a(6) = i.toFloat / 100f
      (i, a)
    } :+ { val a = Array.fill(64)(0f); a(5) = 1f; (7L, a) }).toDF("vec_id", "embedding")
    val r1 = Similarity.simDecontam(emb, maxPerList = 8).collect()
    val r2 = Similarity.simDecontam(emb, maxPerList = 8).collect()
    assert(r1.map(_.toString).sorted.toSeq === r2.map(_.toString).sorted.toSeq)
    val hit = r1.find(_.getAs[Long]("q_id") == 7L)
    assert(hit.isDefined, s"planted leak not flagged: ${r1.mkString(", ")}")
    assert(hit.get.getAs[Long]("n_matches") <= 8L * Similarity.NProbe)
    assert(hit.get.getAs[Double]("best_cos") >= 0.99)
  }

  test("Similarity.ivfAdcTopK: refine puts the planted exact copy at rank 1, k rows per query") {
    import spark.implicits._
    // vec 25 = exact copy of query 0: same coarse list as the query
    // (always probed first), identical PQ codes, cos 1.0 after refine
    val emb = (0L until 30L).map { i =>
      val j = if (i == 25L) 0L else i // vec 25 clones vec 0 exactly
      val a = Array.fill(64)(0f)
      // coprime moduli (13, 7, 5): no two of 0..29 collide on all three,
      // so vec 25 is the ONLY clone in the corpus
      a((j % 13L).toInt) = 1f
      a(16 + (j % 7).toInt) = 0.1f * ((j % 5).toInt + 1)
      (i, a)
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfAdcTopK(emb, Seq(0L), k = 5).collect()
    assert(r.length <= 5 && r.nonEmpty)
    val byRnk = r.sortBy(_.getAs[Long]("rnk"))
    assert(byRnk.head.getAs[Long]("vec_id") === 25L)
    assert(byRnk.head.getAs[Double]("cos") === 1.0)
    // refine order: cos non-increasing in rnk
    val coss = byRnk.map(_.getAs[Double]("cos")).toSeq
    assert(coss === coss.sorted.reverse)
    assert(r.forall(_.getAs[Long]("q_id") == 0L))
  }

  test("Similarity.knnLabelEval: separable clusters classify perfectly, ledger reconciles") {
    import spark.implicits._
    // two well-separated clusters, label = cluster: every held-out
    // vector's probed neighbours share its label, so accuracy is 1.0
    val emb = (0L until 56L).map { i =>
      val cluster = (i % 2L).toInt // 0 → dim 3, 1 → dim 40
      val a = Array.fill(64)(0f)
      a(if (cluster == 0) 3 else 40) = 1f
      a((if (cluster == 0) 10 else 50) + (i % 5).toInt) = 0.05f * ((i % 3).toInt + 1)
      (i, a, cluster + 1)
    }.toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLabelEval(emb).collect()
    assert(r.nonEmpty)
    // 8 held-out ids (0,7,...,49): labels alternate with parity of i%2.
    // n counts the FULL held-out slice (candidate-less queries included
    // as incorrect + n_unclassified), so the ledger must cover all 8.
    assert(r.map(_.getAs[Long]("n")).sum === 8L)
    r.foreach { row =>
      assert(row.getAs[Long]("n_correct") === row.getAs[Long]("n"))
      assert(row.getAs[Long]("n_unclassified") === 0L)
      assert(row.getAs[Double]("accuracy") === 1.0)
    }
  }

  test("Similarity.ivfIncr: counts reconcile across the full-outer merge, deterministic") {
    import spark.implicits._
    // held-out vectors clone train vectors, so the incremental batch is
    // in-distribution; the audit's ledger must reconcile exactly
    val emb = (0L until 42L).map { i =>
      val j = if (i % 7L == 0L) i + 1L else i // held-out i clones train i+1
      val a = Array.fill(64)(0f)
      a((j % 13L).toInt) = 1f
      a(16 + (j % 5).toInt) = 0.2f
      (i, a)
    }.toDF("vec_id", "embedding")
    val r1 = Similarity.ivfIncr(emb).collect()
    val r2 = Similarity.ivfIncr(emb).collect()
    assert(r1.map(_.toString).sorted.toSeq === r2.map(_.toString).sorted.toSeq)
    assert(r1.map(_.getAs[Long]("n_base")).sum === 36L) // 42 − 6 held-out
    assert(r1.map(_.getAs[Long]("n_added")).sum === 6L)
    assert(r1.map(_.getAs[Int]("list_id")).distinct.length === r1.length)
    r1.foreach { row =>
      assert(row.getAs[Long]("n_new") ===
        row.getAs[Long]("n_base") + row.getAs[Long]("n_added"))
      assert(row.getAs[Long]("n_would_move") <= row.getAs[Long]("n_added"))
    }
  }

  test("Similarity.filteredTopK: pre-filter is exact, post-filter recall collapses for a rare label") {
    import spark.implicits._
    // label 1 = a tight cluster around dim 3 (query 0's label, common);
    // label 2 = rare: query 1 + its single same-label neighbor sit in a
    // list dominated by label-1 vectors, so post-filter still finds it
    // (same list), while n_filtered reflects the label split exactly
    val emb = (0L until 40L).map { i =>
      val a = Array.fill(64)(0f)
      val lbl = if (i == 1L || i == 21L) 2 else 1
      a(3) = 1f; a(16 + (i % 8).toInt) = 0.1f * ((i % 3).toInt + 1)
      (i, a, lbl)
    }.toDF("vec_id", "embedding", "label")
    val r = Similarity.filteredTopK(emb, Seq(0L, 1L), k = 5).collect()
    val byQ = r.map(x => x.getAs[Long]("q_id") -> x).toMap
    assert(byQ(0L).getAs[Long]("n_filtered") === 37L) // 38 label-1 minus self
    assert(byQ(1L).getAs[Long]("n_filtered") === 1L)  // only vec 21
    assert(byQ(0L).getAs[Long]("n_exact") === 5L)
    assert(byQ(1L).getAs[Long]("n_exact") === 1L)
    r.foreach { row =>
      assert(row.getAs[Long]("hits") <= row.getAs[Long]("n_exact"))
      val rec = row.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("Similarity.ivfStats: sizes partition the corpus, margins are non-negative, deterministic") {
    import spark.implicits._
    // two tight clusters (dims 3 and 11) + per-vector jitter on a side
    // dim, so assignments are non-trivial but stable
    val emb = (0L until 40L).map { i =>
      val a = Array.fill(64)(0f)
      a(if (i % 2 == 0) 3 else 11) = 1f
      a(20 + (i % 5).toInt) = 0.05f * ((i % 3).toInt + 1)
      (i, a)
    }.toDF("vec_id", "embedding")
    val r1 = Similarity.ivfStats(emb).collect()
    val r2 = Similarity.ivfStats(emb).collect()
    assert(r1.map(_.toString).sorted.toSeq === r2.map(_.toString).sorted.toSeq)
    assert(r1.map(_.getAs[Long]("n")).sum === 40L) // lists partition the corpus
    assert(r1.map(_.getAs[Long]("list_id")).distinct.length === r1.length)
    r1.foreach { row =>
      assert(row.getAs[Long]("list_id") >= 0L && row.getAs[Long]("list_id") < Similarity.NList)
      assert(row.getAs[Long]("min_own_q") <= row.getAs[Long]("max_own_q"))
      // own centroid is argmax-cosine, so margin vs runner-up is ≥ 0
      assert(row.getAs[Long]("sum_margin_q") >= 0L)
      val mc = row.getAs[Double]("mean_cos")
      assert(mc >= -1.0 && mc <= 1.0)
    }
  }

  test("SqlCoverage.setOpsExceptAll keeps multiplicity, unlike plain EXCEPT") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "purchase", 1.0), (2L, 1L, "purchase", 1.0), (3L, 1L, "purchase", 1.0),
      (4L, 1L, "error", 1.0),                       // user 1: 3 purchases − 1 error = 2
      (5L, 2L, "purchase", 1.0), (6L, 2L, "error", 1.0)) // user 2: 1 − 1 = 0
      .toDF("event_id", "user_id", "event_type", "value")
    val r = SqlCoverage.setOpsExceptAll(ev).collect()
      .map(x => x.getLong(0) -> x.getAs[Long]("multiplicity")).toMap
    assert(r === Map(1L -> 2L))
  }

  test("SqlCoverage.unpivotEvents melts the pivot back to long form with zero-fill") {
    import spark.implicits._
    val ev = Seq((1L, 7L, "click", 2.5), (2L, 7L, "click", 1.5), (3L, 7L, "error", 1.0))
      .toDF("event_id", "user_id", "event_type", "value")
    val r = SqlCoverage.unpivotEvents(ev).collect()
      .map(x => x.getAs[String]("metric") -> x.getAs[Double]("value")).toMap
    assert(r === Map("click" -> 4.0, "error" -> 1.0,
      "purchase" -> 0.0, "signup" -> 0.0, "view" -> 0.0))
  }

  test("Graph.pageRank: the all-incoming node outranks the all-outgoing one") {
    import spark.implicits._
    // two users, every transition view → purchase: purchase collects all
    // link mass, view keeps only teleport
    val ev = Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 1L, "purchase"),
      (3L, 2L, 0L, "view"), (4L, 2L, 1L, "purchase"),
      (5L, 3L, 0L, "view"), (6L, 3L, 1L, "purchase"))
      .toDF("event_id", "user_id", "ts_ms", "event_type")
    val r = operators.Graph.pageRank(ev).collect()
      .map(x => x.getAs[String]("node") -> x.getAs[Long]("rank_scaled")).toMap
    assert(r.keySet === Set("view", "purchase"))
    assert(r("purchase") > r("view"))
    // view gets only the teleport share 3Q/(20·2)
    assert(r("view") === 3L * operators.Graph.Q / 40L)
  }

  test("Graph.triangles: one co-occurrence clique yields one triangle; hub guard empties it") {
    import spark.implicits._
    // users 1,2,3 at merchant 5 in the same hour (one triangle); user 4
    // shares merchant 5 but a DIFFERENT hour (edges to nobody); users
    // 1,2 also co-occur at merchant 6 (extra edge, no new triangle)
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:05:00", """{"k": 5}"""),
      (2L, 2L, "2024-01-01 10:15:00", """{"k": 5}"""),
      (3L, 3L, "2024-01-01 10:55:00", """{"k": 5}"""),
      (4L, 4L, "2024-01-01 11:05:00", """{"k": 5}"""),
      (5L, 1L, "2024-01-02 09:00:00", """{"k": 6}"""),
      (6L, 2L, "2024-01-02 09:30:00", """{"k": 6}"""))
      .toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.triangles(ev).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[Long]("n_triangles")).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // hub guard: with maxCell = 2 the 3-user cell is dropped -> no triangles
    assert(operators.Graph.triangles(ev, maxCell = 2L).isEmpty)
  }

  test("Graph.clusteringCoef: closed neighborhoods score 1, open ones 0, deg<2 excluded") {
    import spark.implicits._
    // triangle 1-2-3 (one clique cell) -> coef 1 each; user 4 bridges
    // to 1 only (deg 1, excluded); user 5 links to 1 and 4 through two
    // separate cells whose partners never co-occur -> coef 0
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:05:00", """{"k": 5}"""),
      (2L, 2L, "2024-01-01 10:15:00", """{"k": 5}"""),
      (3L, 3L, "2024-01-01 10:55:00", """{"k": 5}"""),
      (4L, 5L, "2024-01-02 09:00:00", """{"k": 6}"""),
      (5L, 1L, "2024-01-02 09:30:00", """{"k": 6}"""),
      (6L, 5L, "2024-01-03 08:00:00", """{"k": 7}"""),
      (7L, 4L, "2024-01-03 08:30:00", """{"k": 7}"""))
      .toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.clusteringCoef(ev).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[Double]("coef")).toMap
    // user 4 has deg 1 -> absent; 2 and 3 have deg 2 (triangle) -> 1.0
    assert(r === Map(1L -> 0.3333, 2L -> 1.0, 3L -> 1.0, 5L -> 0.0))
    // real data: coefficient bounded, degrees >= 2
    val corpus = operators.Graph.clusteringCoef(Tables.events(spark, sf)).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { x =>
      assert(x.getAs[Long]("deg") >= 2L)
      val c = x.getAs[Double]("coef")
      assert(c >= 0.0 && c <= 1.0 + 1e-9)
    }
  }

  test("Graph.modularity: two disjoint cliques score 0.25 each; mass checks hold on the corpus") {
    import spark.implicits._
    // two disjoint 3-user cliques (one (merchant, hour) cell each):
    // LPA labels them separately; each contributes 3/6 - (6/12)^2 = 0.25
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:05:00", """{"k": 5}"""),
      (2L, 2L, "2024-01-01 10:15:00", """{"k": 5}"""),
      (3L, 3L, "2024-01-01 10:55:00", """{"k": 5}"""),
      (4L, 7L, "2024-01-02 09:00:00", """{"k": 6}"""),
      (5L, 8L, "2024-01-02 09:30:00", """{"k": 6}"""),
      (6L, 9L, "2024-01-02 09:40:00", """{"k": 6}"""))
      .toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.modularity(ev).collect()
    assert(r.length === 2)
    r.foreach { x =>
      assert(x.getAs[Long]("n_nodes") === 3L)
      assert(x.getAs[Long]("e_in") === 3L)
      assert(x.getAs[Long]("deg_sum") === 6L)
      assert(math.abs(x.getAs[Double]("q_contrib") - 0.25) < 1e-9)
    }
    // corpus: degree mass sums to 2m, internal edges never exceed m,
    // and total modularity stays in Newman's [-0.5, 1] band
    val corpus = operators.Graph.modularity(Tables.events(spark, sf)).collect()
    val m = operators.Graph.coEdges(Tables.events(spark, sf), 64L).count()
    assert(corpus.map(_.getAs[Long]("deg_sum")).sum === 2L * m)
    assert(corpus.map(_.getAs[Long]("e_in")).sum <= m)
    val q = corpus.map(_.getAs[Double]("q_contrib")).sum
    assert(q >= -0.5 && q <= 1.0)
  }

  test("Graph.bfs: chain graph — exact hops from the min-id source, hop bound respected") {
    import spark.implicits._
    // path 1—2—3—4—5—6, one 2-user (merchant, hour) cell per edge; the
    // deterministic source is min user id 1, so hops are 0..4 and user 6
    // (5 hops out) stays beyond maxHops = 4
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val ev = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1L, a, f"2024-01-01 ${10 + i}%02d:05:00", s"""{"k": ${20 + i}}"""),
        (i * 2 + 2L, b, f"2024-01-01 ${10 + i}%02d:15:00", s"""{"k": ${20 + i}}"""))
    }.toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.bfs(ev).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[Long]("hops")).toMap
    assert(r === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("Graph.closeness: chain graph exact values, and the min pivot agrees with bfs") {
    import spark.implicits._
    // same path 1—2—3—4—5—6 as the bfs chain; pivots = 4 smallest nodes
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val ev = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1L, a, f"2024-01-01 ${10 + i}%02d:05:00", s"""{"k": ${20 + i}}"""),
        (i * 2 + 2L, b, f"2024-01-01 ${10 + i}%02d:15:00", s"""{"k": ${20 + i}}"""))
    }.toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.closeness(ev).collect()
      .map(x => x.getAs[Long]("src_id") ->
        (x.getAs[Long]("n_reached"), x.getAs[Long]("sum_hops"))).toMap
    // src 1 reaches 2,3,4,5 (hops 1+2+3+4); src 2 reaches 1,3,4,5,6;
    // src 3 reaches all five within 4 hops; src 4 likewise
    assert(r === Map(
      1L -> (4L, 10L), 2L -> (5L, 11L), 3L -> (5L, 9L), 4L -> (5L, 9L)))
    // cross-operator law: the smallest pivot's ball IS bfs's ball
    val b = operators.Graph.bfs(ev).collect()
    assert(r(1L)._1 === b.length - 1L)
    assert(r(1L)._2 === b.map(_.getAs[Long]("hops")).sum)
  }

  test("Graph.betweenness: chain + diamond exact Brandes values, pivots bounded") {
    import spark.implicits._
    // path 1—2—3—4—5—6 (pivots = 4 smallest): per-pivot backward
    // accumulation by hand gives bc_scaled 0 / 5e6 / 7e6 / 5e6 / 3e6 / 0
    // and node 5 is inside all four pivots' hop-4 balls while node 6
    // misses pivot 1's (hop 5 > horizon)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val ev = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1L, a, f"2024-01-01 ${10 + i}%02d:05:00", s"""{"k": ${20 + i}}"""),
        (i * 2 + 2L, b, f"2024-01-01 ${10 + i}%02d:15:00", s"""{"k": ${20 + i}}"""))
    }.toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.betweenness(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Long]("n_pivots"), x.getAs[Long]("bc_scaled"))).toMap
    assert(r === Map(
      1L -> (3L, 0L), 2L -> (3L, 5000000L), 3L -> (3L, 7000000L),
      4L -> (3L, 5000000L), 5L -> (4L, 3000000L), 6L -> (3L, 0L)))
    // diamond 1—2—4, 1—3—4: σ(far corner) = 2, so each middle node's
    // per-pivot dependency is the floor-divided half 1·(SCALE+0)/2 —
    // the σ>1 branch the chain never exercises; by symmetry every node
    // collects exactly 2 × 500000
    val dPairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val dev = dPairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1L, a, f"2024-01-02 ${10 + i}%02d:05:00", s"""{"k": ${40 + i}}"""),
        (i * 2 + 2L, b, f"2024-01-02 ${10 + i}%02d:15:00", s"""{"k": ${40 + i}}"""))
    }.toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val d = operators.Graph.betweenness(dev).collect()
    assert(d.length === 4)
    d.foreach { x =>
      assert(x.getAs[Long]("n_pivots") === 3L)
      assert(x.getAs[Long]("bc_scaled") === 1000000L)
      assert(x.getAs[Double]("bc") === 1.0)
    }
    // corpus sanity: scores non-negative, pivot count ≤ k
    val corpus = operators.Graph.betweenness(Tables.events(spark, sf)).collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall(x => x.getAs[Long]("bc_scaled") >= 0L &&
      x.getAs[Long]("n_pivots") <= 4L))
  }

  test("Graph.harmonic: chain graph exact reciprocal-hop sums over all reached nodes") {
    import spark.implicits._
    // path 1—2—3—4—5—6, pivots {1,2,3,4}: per node, Σ 1000000 // hop
    // over every pivot ball containing it (floor per term, like the
    // oracle's //); node 5 sits in all four balls, node 6 misses
    // pivot 1's (hop 5 > horizon)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val ev = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1L, a, f"2024-01-01 ${10 + i}%02d:05:00", s"""{"k": ${20 + i}}"""),
        (i * 2 + 2L, b, f"2024-01-01 ${10 + i}%02d:15:00", s"""{"k": ${20 + i}}"""))
    }.toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.harmonic(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Long]("n_pivots"), x.getAs[Long]("h_scaled"))).toMap
    assert(r === Map(
      1L -> (3L, 1833333L), 2L -> (3L, 2500000L), 3L -> (3L, 2500000L),
      4L -> (3L, 1833333L), 5L -> (4L, 2083333L), 6L -> (3L, 1083333L)))
    // cross-operator law: restricted to the pivots themselves, the
    // ball population matches closeness's n_reached (same pivotBalls)
    val c = operators.Graph.closeness(ev).collect()
      .map(x => x.getAs[Long]("src_id") -> x.getAs[Long]("n_reached")).toMap
    val ballSizes = r.values.map(_._1.toLong).sum // Σ over nodes of containing balls
    assert(ballSizes === c.values.sum) // both count (src, node≠src) pairs
  }

  test("Graph.effectiveDiameter: chain graph exact eccentricity and integer p90 hop") {
    import spark.implicits._
    // path 1—2—3—4—5—6, pivots {1,2,3,4}: src 1 reaches 4 nodes (hops
    // 1..4 → ecc 4, p90 at cum 4 of 4 → hop 4); src 2 reaches 5 with
    // ecc 4; srcs 3 and 4 reach all 5 within 3 hops (ecc 3), and the
    // 90% bar (cum·10 ≥ n·9 with n=5 needs cum 5) lands on the last hop
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val ev = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1L, a, f"2024-01-01 ${10 + i}%02d:05:00", s"""{"k": ${20 + i}}"""),
        (i * 2 + 2L, b, f"2024-01-01 ${10 + i}%02d:15:00", s"""{"k": ${20 + i}}"""))
    }.toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.effectiveDiameter(ev).collect()
      .map(x => x.getAs[Long]("src_id") -> ((x.getAs[Long]("n_reached"),
        x.getAs[Long]("ecc"), x.getAs[Long]("p90_hops")))).toMap
    assert(r === Map(
      1L -> ((4L, 4L, 4L)), 2L -> ((5L, 4L, 4L)),
      3L -> ((5L, 3L, 3L)), 4L -> ((5L, 3L, 3L))))
    // cross-operator law: per pivot, n_reached matches closeness's
    // (same pivotBalls), and p90 never exceeds ecc
    val c = operators.Graph.closeness(ev).collect()
      .map(x => x.getAs[Long]("src_id") -> x.getAs[Long]("n_reached")).toMap
    assert(r.view.mapValues(_._1).toMap === c)
    assert(r.values.forall { case (_, ecc, p90) => p90 >= 1 && p90 <= ecc })
  }

  test("Graph.hits: max-normalized scores, authority follows hub mass") {
    import spark.implicits._
    // user 1 → {5, 6}, user 2 → {5}, user 3 → {7}: merchant 5 collects
    // two hubs (top authority), 6 rides the strong hub 1, 7 only the
    // weak hub 3; user 1 is the top hub
    val ev = Seq(
      (1L, 1L, """{"k": 5}"""), (2L, 1L, """{"k": 6}"""),
      (3L, 2L, """{"k": 5}"""), (4L, 3L, """{"k": 7}"""))
      .toDF("event_id", "user_id", "props")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("value", lit(1.0))
    val r = operators.Graph.hits(ev).collect()
      .map(x => (x.getAs[String]("role"), x.getAs[Long]("id")) ->
        x.getAs[Long]("score_scaled")).toMap
    val S = operators.Graph.S
    assert(r(("merchant", 5L)) === S) // renormalized max each half-step
    assert(r(("user", 1L)) === S)
    assert(r(("merchant", 6L)) > r(("merchant", 7L)))
    assert(r(("user", 2L)) > r(("user", 3L)))
    assert(r.values.forall(v => v >= 0L && v <= S))
  }

  test("Graph.bipartiteDegrees: fan-in/fan-out and cent volumes reconcile") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, """{"k": 5}""", 1.00), (2L, 1L, """{"k": 6}""", 2.00),
      (3L, 2L, """{"k": 5}""", 4.00))
      .toDF("event_id", "user_id", "props", "value")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val r = operators.Graph.bipartiteDegrees(ev).collect()
      .map(x => (x.getAs[String]("role"), x.getAs[Long]("id")) ->
        ((x.getAs[Long]("n_events"), x.getAs[Long]("n_peers"), x.getAs[Long]("cents")))).toMap
    assert(r(("merchant", 5L)) === ((2L, 2L, 500L)))
    assert(r(("merchant", 6L)) === ((1L, 1L, 200L)))
    assert(r(("user", 1L)) === ((2L, 2L, 300L)))
    assert(r(("user", 2L)) === ((1L, 1L, 400L)))
  }

  test("Sketches.approxQuantiles: uniform data interpolates to the exact quantile") {
    import spark.implicits._
    val o = (0L until 1000L).map(i => (i, (i + 1).toDouble)).toDF("o_orderkey", "o_totalprice")
    val r = Sketches.approxQuantiles(o, qs = Seq(0.5)).collect()
    assert(r.length === 1)
    // prices 1..1000, bin width 64: target 500 falls in bin 7 (448..512),
    // cum_prev 447 ⇒ est = 448 + 53/65·64... computed: trunc4 inside bin
    val est = r.head.getAs[Double]("est")
    assert(est > 495.0 && est < 505.0, s"p50 estimate off: $est")
    assert(r.head.getAs[Long]("n_total") === 1000L)
  }

  test("TextOps.zipfFit: every language's frequency spectrum slopes downward") {
    val r = TextOps.zipfFit(Tables.documents(spark, sf)).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Double]("slope") < 0.0,
        s"lang ${x.getAs[String]("lang")} slope not negative")
      assert(x.getAs[Long]("n_terms") >= 10L)
    }
  }

  test("TextOps.heapsLaw: hand fixture checkpoints; corpus curve monotone with beta in [0,1]") {
    import spark.implicits._
    // t=5 tokens; checkpoints t div 2^k (k=0..7) > 0 -> {5,2,1};
    // first positions a->0 b->1 c->3
    val docs = Seq((1L, "a b a"), (2L, "c a")).toDF("doc_id", "text")
    val r = TextOps.heapsLaw(docs).orderBy("n_prefix").collect()
    assert(r.map(x => (x.getAs[Long]("n_prefix"), x.getAs[Long]("vocab"))).toSeq ===
      Seq((1L, 1L), (2L, 2L), (5L, 3L)))
    assert(r(0).isNullAt(r(0).fieldIndex("beta"))) // first rung has no slope
    assert(r(1).getAs[Double]("beta") === 1.0) // vocab doubled as N doubled
    val b2 = r(2).getAs[Double]("beta") // (ln3-ln2)/(ln5-ln2) ~ 0.4424
    assert(b2 > 0.44 && b2 < 0.445, s"beta $b2")
    // corpus laws: vocab never shrinks, beta bounded by sub-linearity
    // (V(N2)/V(N1) <= N2/N1 since each new token adds at most one word)
    val c = TextOps.heapsLaw(Tables.documents(spark, sf)).orderBy("n_prefix").collect()
    assert(c.length >= 2)
    c.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("vocab") <= b.getAs[Long]("vocab")) }
    c.drop(1).foreach { x =>
      val b = x.getAs[Double]("beta")
      assert(b >= 0.0 && b <= 1.0001, s"beta out of range: $b") }
    val corpus = Tables.documents(spark, sf)
    val t = corpus.select(explode(split(col("text"), " "))).count()
    val v = corpus.select(explode(split(col("text"), " "))).distinct().count()
    assert(c.last.getAs[Long]("n_prefix") === t) // top rung is the full corpus
    assert(c.last.getAs[Long]("vocab") === v)
  }

  test("TextOps.familiarity: hand-computed corpus counts; short docs excluded") {
    import spark.implicits._
    // global bigram counts: "a b" x2 (both from doc 1), "b a" x1, "z q" x1
    val docs = Seq((1L, "a b a b"), (2L, "z q"), (3L, "solo")).toDF("doc_id", "text")
    val r = TextOps.familiarity(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_bigrams"), x.getAs[Double]("familiarity"),
          x.getAs[Double]("uniq_ratio")))).toMap
    // doc 1: occurrences (2, 1, 2) -> mean 5/3 truncated; one of three unique
    assert(r(1L) === ((3L, 1.6666, 0.3333)))
    assert(r(2L) === ((1L, 1.0, 1.0)))
    assert(!r.contains(3L)) // single-token doc has no bigram
    // corpus sanity: familiarity >= 1 always (a gram counts itself)
    TextOps.familiarity(Tables.documents(spark, sf)).collect().foreach { x =>
      assert(x.getAs[Double]("familiarity") >= 1.0)
      val u = x.getAs[Double]("uniq_ratio")
      assert(u >= 0.0 && u <= 1.0)
    }
  }

  test("Sketches.quantileSketch: estimate brackets the exact quantile within one bin width") {
    val r = Sketches.quantileSketch(Tables.events(spark, sf)).collect()
    assert(r.map(_.getAs[Int]("p")).sorted.toSeq === Seq(50, 90, 99))
    r.foreach { x =>
      val est = x.getAs[Double]("est_cents")
      val exact = x.getAs[Long]("exact_cents")
      // exact value lives in the picked bin; interpolation stays inside it
      assert(math.abs(est - exact) <= 1000.0,
        s"p=${x.getAs[Int]("p")}: est $est vs exact $exact")
      // rank math: r = ceil(n*p/100)
      assert(x.getAs[Long]("r") ===
        (x.getAs[Long]("n") * x.getAs[Int]("p") + 99) / 100)
    }
  }

  test("TextOps.novelty: a verbatim re-crawl scores 0, the first doc scores 1, partial shares split") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),       // first: everything novel
      (2L, "a b c d e"),       // verbatim copy: nothing novel
      (3L, "a b c x y z")      // shares 'a b c', adds 'c x y' 'b c x' 'x y z'
    ).toDF("doc_id", "text")
    val r = operators.TextOps.novelty(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_shingles"), x.getAs[Double]("novelty"))).toMap
    assert(r(1L) === ((3L, 1.0)))
    assert(r(2L) === ((3L, 0.0)))
    assert(r(3L)._1 === 4L && r(3L)._2 === 0.75)
    // corpus: the smallest doc id is fully novel; scores bounded
    val corpus = operators.TextOps.novelty(Tables.documents(spark, sf)).collect()
    val minDoc = corpus.map(_.getAs[Long]("doc_id")).min
    assert(corpus.find(_.getAs[Long]("doc_id") == minDoc)
      .get.getAs[Double]("novelty") === 1.0)
    corpus.foreach { x =>
      val nv = x.getAs[Double]("novelty")
      assert(nv >= 0.0 && nv <= 1.0)
      assert(x.getAs[Long]("n_novel") <= x.getAs[Long]("n_shingles"))
    }
  }

  test("Sketches.bitmapRetention: popcount intersection equals the exact distinct-set answer") {
    val ev = Tables.events(spark, sf)
    val r = Sketches.bitmapRetention(ev).collect()
    assert(r.length === 1)
    val row = r.head
    // exact recompute via distinct sets
    val wk = ev.select(expr("(ts_ms div 86400000) div 7").as("week"), col("user_id"))
    val (w0, w1) = {
      val b = wk.agg(min("week"), max("week")).head
      (b.getLong(0), b.getLong(1))
    }
    val first = wk.filter(col("week") === w0).select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val last = wk.filter(col("week") === w1).select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(row.getAs[Long]("n_first") === first.size.toLong)
    assert(row.getAs[Long]("n_last") === last.size.toLong)
    assert(row.getAs[Long]("n_both") === (first intersect last).size.toLong)
  }

  test("Sketches.hllDailyRollup: daily-merged registers equal the direct weekly sketch") {
    import graft.functions.TextHash.hash60
    val ev = Tables.events(spark, sf)
    val r = Sketches.hllDailyRollup(ev).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("n_days") >= 1L && x.getAs[Long]("n_days") <= 7L)
      // m=256 keeps the sketch within ~10% at these cardinalities;
      // generous bound so host-independent
      assert(x.getAs[Double]("rel_err") < 0.25)
    }
    // MERGEABILITY: weekly registers via the daily rollup equal the
    // registers computed directly per week — max is associative, so
    // the two-level merge must be lossless register-for-register
    val direct = ev.select(expr("(ts_ms div 86400000) div 7").as("week"),
        hash60(col("user_id").cast("string")).as("h"))
      .withColumn("reg", pmod(col("h"), lit(256L)))
      .withColumn("rest", expr("h div 256"))
      .withColumn("rho", when(col("rest") === 0L, lit(53L))
        .otherwise(length(bin(expr("rest & -rest"))).cast("long")))
      .groupBy(col("week"), col("reg")).agg(max(col("rho")).as("mx"))
    val daily = ev.select(expr("ts_ms div 86400000").as("day_idx"),
        hash60(col("user_id").cast("string")).as("h"))
      .withColumn("week", expr("day_idx div 7"))
      .withColumn("reg", pmod(col("h"), lit(256L)))
      .withColumn("rest", expr("h div 256"))
      .withColumn("rho", when(col("rest") === 0L, lit(53L))
        .otherwise(length(bin(expr("rest & -rest"))).cast("long")))
      .groupBy(col("week"), col("day_idx"), col("reg")).agg(max(col("rho")).as("mx"))
      .groupBy(col("week"), col("reg")).agg(max(col("mx")).as("mx"))
    assert(direct.exceptAll(daily).count() === 0 && daily.exceptAll(direct).count() === 0)
  }

  test("Sketches.hllDistinct: estimates track exact counts; partition invariant") {
    val ev = Tables.events(spark, sf)
    val r = Sketches.hllDistinct(ev).collect()
      .map(x => x.getAs[String]("metric") -> x).toMap
    assert(r.size === 3)
    // m=256 ⇒ ~6.5% std error; allow 3 sigma on every regime (the tiny
    // event_type cardinality goes through linear counting and is near-exact)
    r.foreach { case (m, x) =>
      val n = x.getAs[Long]("n_exact").toDouble
      val est = x.getAs[Double]("est")
      assert(math.abs(est - n) / n < 0.2, s"$m: est $est vs exact $n")
    }
    assert(math.abs(r("event_type").getAs[Double]("est") -
      r("event_type").getAs[Long]("n_exact")) < 1.0)
    // merge-order determinism: any partitioning yields bit-identical sketches
    val again = Sketches.hllDistinct(ev.repartition(7)).collect()
      .map(x => x.getAs[String]("metric") -> x.getAs[Double]("est")).toMap
    r.foreach { case (m, x) => assert(again(m) === x.getAs[Double]("est")) }
  }

  test("Dedup.fuzzyEditPairs: planted typos found, distances bounded") {
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.fuzzyEditPairs(docs).collect()
    assert(pairs.nonEmpty)
    pairs.foreach(x => assert(x.getAs[Long]("dist") <= 2L))
    val pairSet = pairs.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet
    // every doc long enough to actually receive its deletion must pair
    // with its typo copy (the deletion lands past the blocking prefix)
    val ids = docs
      .filter(length(TextOps.normalize(col("text"))) >= 21).select("doc_id")
      .collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    ids.foreach(i => assert(pairSet.contains((i, i + TextOps.PerturbOffset)),
      s"doc $i missing its typo pair"))
    // a planted pair differs by the one deletion — plus, for docs longer
    // than the cap, the character the deletion shifts into the capped
    // window's last position (capped comparison's inherent second edit)
    val planted = pairs
      .filter(x => x.getAs[Long]("id_b") - x.getAs[Long]("id_a") == TextOps.PerturbOffset)
      .map(x => x.getAs[Long]("id_a") -> x.getAs[Long]("dist")).toMap
    ids.foreach(i => assert(planted(i) >= 1L && planted(i) <= 2L))
  }

  test("Analytics.shippingPriority: exact-revenue top-k, both date filters hold") {
    val r = Analytics.shippingPriority(Tables.customer(spark, sf),
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).collect()
    assert(r.nonEmpty && r.length <= 10)
    assert(r.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to r.length).toSeq)
    val byRank = r.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("revenue"))
    byRank.zip(byRank.tail).foreach { case (a, b) => assert(a >= b) }
    val cutoff = java.time.LocalDateTime.parse("1998-06-01T00:00:00")
    r.foreach { x =>
      assert(x.getAs[java.time.LocalDateTime]("o_orderdate").isBefore(cutoff))
      assert(x.getAs[Double]("revenue") > 0.0)
    }
  }

  test("Analytics.returnedItems: top-k before the dim joins plans as TakeOrdered, ranks hold") {
    val df = Analytics.returnedItems(Tables.customer(spark, sf),
      Tables.nation(spark, sf), Tables.orders(spark, sf), Tables.lineitem(spark, sf))
    // the global top-k must be a distributed partial top-k merge, never
    // a single-partition window over all customers
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$plan")
    val r = df.collect()
    assert(r.nonEmpty && r.length <= 20)
    assert(r.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to r.length).toSeq)
    val byRank = r.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("revenue"))
    byRank.zip(byRank.tail).foreach { case (a, b) => assert(a >= b) }
    r.foreach(x => assert(x.getAs[Double]("revenue") > 0.0 && x.getAs[Long]("n_lines") > 0L))
  }

  test("Analytics.topSupplier: every returned row carries the exact maximum revenue") {
    val r = Analytics.topSupplier(Tables.supplier(spark, sf), Tables.lineitem(spark, sf)).collect()
    assert(r.nonEmpty)
    val revs = r.map(_.getAs[Long]("rev_scaled")).distinct
    assert(revs.length === 1, "argmax rows must all tie at the max")
    // recompute the max independently
    val expect = Tables.lineitem(spark, sf)
      .filter(expr("l_shipdate >= timestamp'1996-01-01'") &&
        expr("l_shipdate < timestamp'1996-04-01'"))
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
        (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))).as("rs"))
      .agg(max(col("rs"))).collect()(0).getLong(0)
    assert(revs.head === expect)
  }

  test("Graph.merchantJaccard: identical user sets score 1.0; the fan guard empties pairs") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def row(u: Long, m: Int) = (u, s"""{"k":$m}""", 10.0, ts)
    // merchants 1 and 2 share exactly users {1, 2}; merchant 3 is only user 3's
    val ev = Seq(row(1L, 1), row(1L, 2), row(2L, 1), row(2L, 2), row(3L, 3))
      .toDF("user_id", "props", "value", "ts")
    val r = Graph.merchantJaccard(ev, maxFan = 80L, minJaccard = 0.45).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("m1") === 1L && r.head.getAs[Long]("m2") === 2L)
    assert(r.head.getAs[Long]("inter") === 2L && r.head.getAs[Double]("jaccard") === 1.0)
    // a fan cap of 1 drops both shared-merchant users -> no candidate pairs
    assert(Graph.merchantJaccard(ev, maxFan = 1L).collect().isEmpty)
    // corpus sanity: jaccard = inter / (d1 + d2 - inter) on every row
    Graph.merchantJaccard(Tables.events(spark, sf)).collect().foreach { x =>
      val j = x.getAs[Long]("inter").toDouble /
        (x.getAs[Long]("d1") + x.getAs[Long]("d2") - x.getAs[Long]("inter"))
      assert(x.getAs[Double]("jaccard") === math.floor(j * 10000) / 10000)
    }
  }

  test("Similarity.pqEncode: every vector gets one in-range code per subspace") {
    val r = Similarity.pqEncode(Tables.embeddings(spark, sf)).collect()
    val byVec = r.groupBy(_.getAs[Long]("vec_id"))
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(byVec.size.toLong === nVecs)
    byVec.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("m")).sorted.toSeq === (0L until Similarity.PqM).toSeq)
    }
    r.foreach { x =>
      val code = x.getAs[Long]("code")
      assert(code >= 0L && code < Similarity.PqKs, s"code $code out of range")
      assert(x.getAs[Double]("sub_cos") <= 1.0 + 1e-9)
    }
    // the code is a pure function of the subvector: duplicate embeddings
    // must encode identically (compare two passes for determinism too)
    val again = Similarity.pqEncode(Tables.embeddings(spark, sf)).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq ===
      again.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq)
  }

  test("Analytics.lateOrders: semi-join count matches a distinct-join recount") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val r = Analytics.lateOrders(orders, li).collect()
      .map(x => x.getAs[String]("o_orderpriority") -> x.getAs[Long]("n_orders")).toMap
    assert(r.values.sum > 0)
    // recount without the semi join: distinct qualifying orderkeys
    val expect = orders
      .filter(expr("o_orderdate >= timestamp'1996-01-01'") &&
        expr("o_orderdate < timestamp'1996-04-01'"))
      .join(li.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("interval 90 days"))
      .select(col("o_orderkey"), col("o_orderpriority")).distinct()
      .groupBy(col("o_orderpriority")).count().collect()
      .map(x => x.getAs[String]("o_orderpriority") -> x.getAs[Long]("count")).toMap
    assert(r === expect)
  }

  test("Similarity.adcTopK: k ranked rows per query, scores reconcile and never self-match") {
    val r = Similarity.adcTopK(Tables.embeddings(spark, sf), Similarity.DefaultQueryIds).collect()
    val byQ = r.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet === Similarity.DefaultQueryIds.toSet)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq === (1L to rows.length).toSeq)
      val scores = sorted.map(_.getAs[Long]("dot_scaled"))
      scores.zip(scores.tail).foreach { case (a, b) => assert(a >= b) }
    }
    r.foreach { x =>
      assert(x.getAs[Long]("vec_id") !== x.getAs[Long]("q_id"))
      // adot is the trunc4 of the scaled score
      val adot = math.floor(x.getAs[Long]("dot_scaled") / Similarity.QScale * 10000) / 10000
      assert(x.getAs[Double]("adot") === adot)
    }
  }

  test("TextOps.dsirWeights: target-like docs outweigh off-target docs; bench slice excluded") {
    import spark.implicits._
    // target slice (ids 0, 97): feline bigrams; raw doc 1 matches the
    // target, raw doc 2 is all-canine (no target bigram hits)
    val docs = Seq(
      (0L, "cat sat mat cat sat mat cat sat"),
      (97L, "cat sat mat cat sat mat"),
      (1L, "cat sat mat cat sat mat cat"),
      (2L, "dog ran far dog ran far dog")
    ).toDF("doc_id", "text")
    val r = TextOps.dsirWeights(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.keySet === Set(1L, 2L), "bench docs never score")
    assert(r(1L).getAs[Double]("avg_logratio") > r(2L).getAs[Double]("avg_logratio"))
    assert(r(1L).getAs[Double]("avg_logratio") > 0.0, "on-target weight is positive")
    assert(r(2L).getAs[Double]("avg_logratio") < 0.0, "off-target weight is negative")
    assert(r(1L).getAs[Long]("n_bigrams") === 6L && r(2L).getAs[Long]("n_bigrams") === 6L)
    // corpus: only non-bench docs score, weights are finite
    val c = TextOps.dsirWeights(Tables.documents(spark, sf)).collect()
    assert(c.nonEmpty)
    c.foreach { x =>
      assert(x.getAs[Long]("doc_id") % 97L != 0L)
      assert(!x.getAs[Double]("avg_logratio").isNaN)
    }
  }

  test("Graph.fraudRings: disjoint cliques get disjoint rings; edges never cross rings") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def row(u: Long, m: Int) = (u, s"""{"k":$m}""", 10.0, ts)
    // merchant 1 links users {1,2}; merchant 2 links {3,4,5}; user 6 alone
    val ev = Seq(row(1L, 1), row(2L, 1), row(3L, 2), row(4L, 2), row(5L, 2), row(6L, 3))
      .toDF("user_id", "props", "value", "ts")
    val rings = Graph.fraudRings(ev).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[Long]("ring_id")).toMap
    assert(rings === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    // corpus invariant: every co-occurrence edge stays inside one ring
    val ev2 = Tables.events(spark, sf)
    val corpus = Graph.fraudRings(ev2).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[Long]("ring_id")).toMap
    Graph.coEdges(ev2, 64L).collect().foreach { e =>
      assert(corpus(e.getAs[Long]("u1")) === corpus(e.getAs[Long]("u2")))
    }
  }

  test("Graph.lpa: a bridge between two cliques does NOT merge their communities") {
    import spark.implicits._
    // cliques {1,2,3} and {4,5,6}, one (merchant, hour) cell per edge,
    // plus the bridge edge 3—4 that fraudRings would collapse through.
    // Hand-traced 3-round synchronous min-tie vote: {1,2,3}→1, {4,5,6}→3.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val ev = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1L, a, f"2024-01-01 ${8 + i}%02d:05:00", s"""{"k": ${30 + i}}"""),
        (i * 2 + 2L, b, f"2024-01-01 ${8 + i}%02d:15:00", s"""{"k": ${30 + i}}"""))
    }.toDF("event_id", "user_id", "ts_str", "props")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .withColumn("value", lit(1.0))
    val r = Graph.lpa(ev).collect()
      .map(x => (x.getAs[Long]("user_id"),
        (x.getAs[Long]("community"), x.getAs[Long]("community_size")))).toMap
    assert(r === Map(1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      4L -> (3L, 3L), 5L -> (3L, 3L), 6L -> (3L, 3L)))
    // ...while the component view is ONE ring across the bridge
    assert(Graph.fraudRings(ev).collect()
      .map(_.getAs[Long]("ring_id")).distinct.length === 1)
  }

  test("Graph.kcore: pendant peels off a K4; cascade past the bound throws") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def row(u: Long, m: Int) = (u, s"""{"k":$m}""", 10.0, ts)
    // one 4-user cell = K4 (each degree 3) + a pendant 5 hanging off 1
    val ev = (Seq(1L, 2L, 3L, 4L).map(row(_, 1)) ++ Seq(row(1L, 2), row(5L, 2)))
      .toDF("user_id", "props", "value", "ts")
    val r = Graph.kcore(ev).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[Long]("degree")).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a 6-node path has an empty 2-core; peeling it takes 3 rounds
    // (endpoints inward), so rounds = 1 must refuse rather than return
    // the un-peeled middle
    val path = Seq((11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L))
      .zipWithIndex.flatMap { case ((a, b), i) =>
        Seq(row(a, 40 + i), row(b, 40 + i)) }
      .toDF("user_id", "props", "value", "ts")
    assert(Graph.kcore(path, k = 2).collect().isEmpty)
    assertThrows[IllegalArgumentException](Graph.kcore(path, k = 2, rounds = 1).collect())
  }

  test("Graph.msf: hand-traced forest on a weighted diamond; corpus forest is spanning, acyclic, and cycle-maximal") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // users → merchant sets give w(1,2)=3, w(2,3)=2, w(1,3)=1, w(3,4)=1:
    // the MSF drops exactly the weakest triangle edge (1,3)
    val visits = Seq(
      1L -> Seq(1, 2), 2L -> Seq(1, 2), 3L -> Seq(1, 2, 3),
      4L -> Seq(2, 3), 5L -> Seq(3, 4))
    val ev = visits.flatMap { case (u, ms) =>
      ms.map(m => (u, s"""{"k":$m}""", 10.0, ts))
    }.toDF("user_id", "props", "value", "ts")
    val got = Graph.msf(ev).collect()
      .map(r => (r.getAs[Long]("m1"), r.getAs[Long]("m2"),
        r.getAs[Long]("w"), r.getAs[Long]("round"))).toSet
    // all three picks happen in round 1 (every component's argmax)
    assert(got === Set((1L, 2L, 3L, 1L), (2L, 3L, 2L, 1L), (3L, 4L, 1L, 1L)))

    // corpus laws at sf: forest vs the full co-visit edge relation
    val ev2 = Tables.events(spark, sf)
    val all = Graph.covisitEdges(ev2).collect()
      .map(r => (r.getAs[Int]("m1").toLong, r.getAs[Int]("m2").toLong,
        r.getAs[Long]("w")))
    val forest = Graph.msf(ev2).collect()
      .map(r => (r.getAs[Long]("m1"), r.getAs[Long]("m2"), r.getAs[Long]("w")))
    val nodes = all.flatMap(e => Seq(e._1, e._2)).distinct
    // union-find over the FULL graph vs over the FOREST — identical
    // partition ⇒ spanning; |forest| = V − #components ⇒ acyclic
    def components(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val p = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = { if (p(x) != x) p(x) = find(p(x)); p(x) }
      es.foreach { case (a, b) => p(find(a)) = find(b) }
      nodes.map(n => n -> find(n)).toMap
    }
    val full = components(all.map(e => (e._1, e._2)))
    val span = components(forest.map(e => (e._1, e._2)).toSeq)
    def partition(cc: Map[Long, Long]) =
      cc.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(partition(full) === partition(span), "forest is not spanning")
    val nComponents = partition(full).size
    assert(forest.length === nodes.length - nComponents, "forest has a cycle")
    // cycle property of the MAX forest under the strict (w desc, m1,
    // m2) order: every non-forest edge is the weakest on its cycle —
    // each edge of the forest path between its endpoints beats it
    val adj = scala.collection.mutable.Map.empty[Long, List[(Long, (Long, Long, Long))]]
    forest.foreach { case e @ (a, b, _) =>
      adj(a) = (b, e) :: adj.getOrElse(a, Nil)
      adj(b) = (a, e) :: adj.getOrElse(b, Nil)
    }
    def pathEdges(src: Long, dst: Long): List[(Long, Long, Long)] = {
      val prev = scala.collection.mutable.Map[Long, (Long, (Long, Long, Long))]()
      var frontier = List(src)
      while (frontier.nonEmpty && !prev.contains(dst)) {
        frontier = frontier.flatMap { v =>
          adj.getOrElse(v, Nil).collect {
            case (n, e) if n != src && !prev.contains(n) => prev(n) = (v, e); n
          }
        }
      }
      var cur = dst
      var acc = List.empty[(Long, Long, Long)]
      while (cur != src) { val (pv, e) = prev(cur); acc = e :: acc; cur = pv }
      acc
    }
    def beats(p: (Long, Long, Long), e: (Long, Long, Long)): Boolean =
      p._3 > e._3 || (p._3 == e._3 &&
        (p._1 < e._1 || (p._1 == e._1 && p._2 < e._2)))
    val forestSet = forest.toSet
    all.filterNot(forestSet).foreach { e =>
      val path = pathEdges(e._1, e._2)
      assert(path.nonEmpty, s"non-forest edge $e endpoints not connected in forest")
      path.foreach(p => assert(beats(p, e),
        s"forest path edge $p does not beat dropped edge $e — not the max forest"))
    }
    assert(all.length > forest.length, "corpus graph has no cycle — the law tests nothing")
  }

  test("Graph.ccLsls: a 64-node chain (diameter 63) converges in O(log n) rounds; corpus partition matches union-find") {
    import spark.implicits._
    // the algorithm's reason to exist: min-label propagation needs
    // diameter rounds (63 here); star contraction must land in the
    // log² budget — the 12-round default — or the claim is hollow
    val chain = (1L until 64L).map(i => (i + 1, i)).toDF("hi", "lo")
    val (fix, rounds) = Graph.lslsContract(chain, rounds = 12)
    assert(rounds <= 12, s"chain took $rounds rounds")
    val stars = fix.collect().map(r => (r.getAs[Long]("hi"), r.getAs[Long]("lo")))
    assert(stars.toSet === (2L to 64L).map(v => (v, 1L)).toSet,
      "fixpoint is not the single star centred on the component minimum")

    // corpus law at sf: the emitted partition equals an independent
    // union-find over the same guarded edge relation, sizes included
    val ev = Tables.events(spark, sf)
    val all = Graph.covisitEdges(ev).collect()
      .map(r => (r.getAs[Int]("m1").toLong, r.getAs[Int]("m2").toLong))
    val nodes = all.flatMap(e => Seq(e._1, e._2)).distinct
    val p = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { if (p(x) != x) p(x) = find(p(x)); p(x) }
    all.foreach { case (a, b) => p(find(a)) = find(b) }
    val want = nodes.groupBy(find).map { case (_, ns) =>
      val mn = ns.min; ns.map(n => (n, mn, ns.size.toLong)).toSet
    }.toSet.flatten
    val got = Graph.ccLsls(ev).collect()
      .map(r => (r.getAs[Long]("m"), r.getAs[Long]("cc_id"),
        r.getAs[Long]("cc_size"))).toSet
    assert(got === want)
  }

  test("Dedup.dedupSnm: hand-traced window pairs; every unique-text original pairs with its perturbed copy at 1.0") {
    import spark.implicits._
    val P = graft.operators.TextOps.PerturbOffset
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "unrelated text entirely here"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val got = Dedup.dedupSnm(docs).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard"))).toSet
    // sorted normalized order: 1, 1+P, 3, 3+P, 2, 2+P — doc 2's text is
    // outside every window-mate's 0.5 Jaccard, docs 1/3 overlap at 2/3
    assert(got === Set(
      (1L, 1L + P, 1.0), (3L, 3L + P, 1.0), (2L, 2L + P, 1.0),
      (1L, 3L, 0.6666), (1L, 3L + P, 0.6666),
      (3L, 1L + P, 0.6666), (1L + P, 3L + P, 0.6666)))

    // corpus law: a doc whose normalized text is unique in the corpus
    // sorts EXACTLY adjacent to its perturbed copy — the pair must
    // surface at Jaccard 1.0 (normalization provably restores it)
    val corpus = Tables.documents(spark, sf)
    val nt = corpus.select(col("doc_id"),
      graft.operators.TextOps.normalize(col("text")).as("nt"))
    val unique = nt.withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("nt"))))
      .filter(col("n") === 1 && size(split(col("nt"), " ")) >= 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(unique.nonEmpty, "no unique-text docs — the law tests nothing")
    val pairs = Dedup.dedupSnm(corpus).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard")))
    val exactPairs = pairs.filter(p => p._3 === 1.0)
      .map(p => (p._1, p._2)).toSet
    unique.foreach { d =>
      assert(exactPairs.contains((d, d + P)),
        s"unique-text doc $d did not pair with its perturbed copy")
    }
  }

  test("TextOps.featureHash: matches an independent recompute via the composed hash") {
    import spark.implicits._
    val docs = Seq((1L, "alpha alpha alpha beta"), (2L, "gamma delta gamma"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val got = TextOps.featureHash(docs).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("bucket"),
        x.getAs[Long]("weight"), x.getAs[Long]("n_tokens"), x.getAs[Long]("rnk"))).toSet
    // independent path: composed conv(substring(md5)) hash, plain SQL agg
    import graft.functions.TextHash.hash60Composed
    val exp = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), (hash60Composed(col("t")) % 64).as("bucket"),
        when(hash60Composed(concat(lit("sign|"), col("t"))) % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "bucket")
      .agg(sum("sgn").as("weight"), count(lit(1)).as("n_tokens"))
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(abs(col("weight")).desc, col("bucket"))).cast("long"))
      .filter(col("rnk") <= 8).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("bucket"),
        x.getAs[Long]("weight"), x.getAs[Long]("n_tokens"), x.getAs[Long]("rnk"))).toSet
    assert(got === exp)
    // weight/count parity: each slot's weight is a ± sum of n_tokens signs
    got.foreach { case (_, _, w, n, _) =>
      assert(math.abs(w) <= n && ((w % 2 + 2) % 2) === n % 2)
    }
  }

  test("Analytics.cheapestSupplier: per-part minimum holds, ties keep every supplier") {
    val li = Tables.lineitem(spark, sf)
    val r = Analytics.cheapestSupplier(Tables.supplier(spark, sf), li).collect()
    assert(r.nonEmpty)
    // independent recompute of each part's true minimum unit price
    val mins = li.filter(col("l_quantity") > 0)
      .select(col("l_partkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") /
          floor(col("l_quantity")).cast("long")).as("up"))
      .groupBy("l_partkey").agg(min("up").as("m")).collect()
      .map(x => x.getAs[Long]("l_partkey") -> x.getAs[Double]("m")).toMap
    val byPart = r.groupBy(_.getAs[Long]("l_partkey"))
    assert(byPart.keySet === mins.keySet, "every shipped part gets a winner")
    byPart.foreach { case (pk, rows) =>
      val expect = math.floor(mins(pk) * 10000) / 10000
      rows.foreach(x => assert(x.getAs[Double]("unit_price") === expect))
      // distinct suppliers on ties
      assert(rows.map(_.getAs[Long]("s_suppkey")).distinct.length === rows.length)
    }
  }

  test("Dedup.simhashClusters: pair endpoints always share a cluster label") {
    import spark.implicits._
    val small = Seq((1L, "x y z w v u t s"), (2L, "x y z w v u t s"),
      (3L, "completely different token stream here now ok")).toDF("doc_id", "text")
    val labels = Dedup.simhashClusters(small).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels(1L) === 1L && labels(2L) === 1L) // identical docs cluster under min id
    assert(!labels.contains(3L)) // unpaired doc never enters the closure
    // corpus invariant: every hamming-banded pair is label-connected
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.simhashPairs(docs).collect()
    val corpus = Dedup.simhashClusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    pairs.foreach { p =>
      assert(corpus(p.getAs[Long]("a_id")) === corpus(p.getAs[Long]("b_id")))
    }
  }

  test("Similarity.rrfFusion: scores derive from member ranks; fused order follows score") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.rrfFusion(emb, Similarity.DefaultQueryIds).collect()
    assert(r.nonEmpty)
    def term(rnk: Any): Double = Option(rnk.asInstanceOf[java.lang.Long])
      .map(x => 1.0 / (60 + x.toDouble)).getOrElse(0.0)
    r.foreach { x =>
      val expect = term(x.getAs[java.lang.Long]("rnk_mp")) +
        term(x.getAs[java.lang.Long]("rnk_ivf"))
      assert(math.abs(x.getAs[Double]("score") - expect) < 1e-6 + 1e-12)
      assert(x.getAs[Long]("rrf_rnk") >= 1L && x.getAs[Long]("rrf_rnk") <= 10L)
    }
    // within each query the fused rank follows score (desc), ties by vec_id
    r.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rrf_rnk"))
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a.getAs[Double]("score") >= b.getAs[Double]("score"))
      }
    }
    // a doc ranked #1 by BOTH methods must fuse to #1
    r.filter(x => x.getAs[java.lang.Long]("rnk_mp") == 1L &&
        x.getAs[java.lang.Long]("rnk_ivf") == 1L)
      .foreach(x => assert(x.getAs[Long]("rrf_rnk") === 1L))
  }

  test("Similarity.sq8TopK: quantized ranking tracks the exact cosine closely") {
    val emb = Tables.embeddings(spark, sf)
    val sq = Similarity.sq8TopK(emb, Similarity.DefaultQueryIds).collect()
    val byQ = sq.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet === Similarity.DefaultQueryIds.toSet)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // int8 keeps per-dim resolution: quantized cos of every reported
    // pair must sit within 2e-2 of the exact float cosine
    val exact = Similarity.bruteForceTopK(emb, Similarity.DefaultQueryIds, k = 500)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos")).toMap
    sq.foreach { x =>
      val key = (x.getAs[Long]("q_id"), x.getAs[Long]("vec_id"))
      exact.get(key).foreach { c =>
        assert(math.abs(x.getAs[Double]("cos") - c) < 0.02,
          s"sq8 cos drifted: $key ${x.getAs[Double]("cos")} vs $c")
      }
    }
    // the codes path never explodes the embedding into per-dim rows
    val p = Similarity.sq8TopK(emb, Similarity.DefaultQueryIds)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("Generate"), s"sq8 must stay HOF-only:\n$p")
  }

  test("TextOps.pmiCollocations: lift reconciles with the marginal counts") {
    val docs = Tables.documents(spark, sf)
    val r = TextOps.pmiCollocations(docs).collect()
    assert(r.nonEmpty && r.length <= 25)
    assert(r.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to r.length).toSeq)
    r.foreach(x => assert(x.getAs[Long]("c_xy") >= 5L))
    // recompute the top pair's lift from first principles
    val top = r.minBy(_.getAs[Long]("rnk"))
    val grams = graft.functions.TextHash.shingleRows(docs, n = 2)
      .select(split(col("s"), " ").getItem(0).as("w1"),
        split(col("s"), " ").getItem(1).as("w2")).collect()
    val m = grams.length.toDouble
    val cxy = grams.count(g => g.getString(0) == top.getAs[String]("w1") &&
      g.getString(1) == top.getAs[String]("w2"))
    val cx = grams.count(_.getString(0) == top.getAs[String]("w1"))
    val cy = grams.count(_.getString(1) == top.getAs[String]("w2"))
    val lift = math.floor(m * cxy / (cx.toDouble * cy) * 10000) / 10000
    assert(top.getAs[Double]("lift") === lift)
  }

  test("TextOps.sourceReport: totals reconcile with direct aggregation") {
    val docs = Tables.documents(spark, sf)
    val r = TextOps.sourceReport(docs).collect()
    assert(r.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val toks = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .collect().head.getLong(0)
    assert(r.map(_.getAs[Long]("tokens_total")).sum === toks)
    r.foreach { x =>
      assert(x.getAs[Long]("dup_docs") <= x.getAs[Long]("n_docs"))
      assert(x.getAs[Double]("long_ratio") >= 0.0 &&
        x.getAs[Double]("long_ratio") <= 1.0)
    }
  }

  test("Dedup.containmentPairs: bounds hold and exact duplicates contain both ways") {
    val r = Dedup.containmentPairs(Tables.documents(spark, sf)).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("shared") <= x.getAs[Long]("inner_size"))
      assert(x.getAs[Double]("containment") >= 0.7 - 1e-9)
      assert(x.getAs[Long]("inner_doc") !== x.getAs[Long]("outer_doc"))
    }
    // an exact text duplicate (same shingle set) must appear in BOTH
    // directions with containment 1.0
    val dupIds = Tables.documents(spark, sf)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1).select(col("ids")).collect()
      .map(_.getSeq[Long](0))
    val pairSet = r.map(x =>
      (x.getAs[Long]("inner_doc"), x.getAs[Long]("outer_doc"))).toSet
    dupIds.filter(_.length == 2).take(3).foreach { ids =>
      val (a, b) = (ids(0), ids(1))
      // only asserted when the pair survives the size/df guards
      if (pairSet.contains((a, b)) || pairSet.contains((b, a))) {
        assert(pairSet.contains((a, b)) && pairSet.contains((b, a)),
          s"exact dup ($a,$b) must contain both ways")
      }
    }
  }

  test("Similarity.vecDrift: full pair matrix, cosine tracks the float centroids") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.vecDrift(emb).collect()
    val labels = emb.select(col("label")).distinct().count().toInt
    assert(r.length === labels * (labels - 1) / 2)
    r.foreach(x => assert(math.abs(x.getAs[Double]("cos")) <= 1.0 + 1e-4))
    // quantized-centroid cosine must track the float-centroid cosine
    val cents = emb.collect()
      .groupBy(_.getAs[Int]("label"))
      .map { case (l, rows) =>
        val vecs = rows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
        l -> vecs.transpose.map(_.sum)
      }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    r.take(10).foreach { x =>
      val exact = cos(cents(x.getAs[Long]("label_a").toInt),
        cents(x.getAs[Long]("label_b").toInt))
      assert(math.abs(x.getAs[Double]("cos") - exact) < 0.02,
        s"quantized centroid drifted from float: $x vs $exact")
    }
  }

  test("SqlCoverage.attribution: last touch really is the latest prior touch") {
    val ev = Tables.events(spark, sf)
    val r = SqlCoverage.attribution(ev).collect()
    assert(r.nonEmpty)
    r.foreach(x => assert(x.getAs[Long]("mins_since_last") >= 0L &&
      x.getAs[Long]("mins_since_last") <= 7L * 1440L))
    // recompute for the three earliest purchases reported
    val raw = ev.filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
      .collect()
    r.sortBy(_.getAs[Long]("event_id")).take(3).foreach { x =>
      val (uid, pts) = (x.getAs[Long]("user_id"), x.getAs[Long]("ts_ms"))
      val pid = x.getAs[Long]("event_id")
      val touches = raw.filter(e => e.getAs[Long]("user_id") == uid &&
        e.getAs[String]("event_type") != "purchase" &&
        (e.getAs[Long]("ts_ms") < pts ||
          (e.getAs[Long]("ts_ms") == pts && e.getAs[Long]("event_id") < pid)))
      val expected = touches
        .maxBy(e => (e.getAs[Long]("ts_ms"), e.getAs[Long]("event_id")))
      assert(x.getAs[Long]("last_touch_id") ===
        expected.getAs[Long]("event_id"), s"wrong credit for purchase $pid")
    }
  }

  test("TextOps.bm25TopK: matches a driver-side recompute of the Okapi formula") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog the dog the dog barked"),
      (3L, "cat dog cat dog cat"),
      (4L, "a completely unrelated sentence about nothing"),
      (5L, "the the the the the the the the"))
      .toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, k = 3, nq = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_match_terms"),
        r.getAs[Long]("score_scaled"), r.getAs[Long]("rnk")))
    // independent scalar recompute over the collected corpus
    val toks = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSeq).toMap
    val nd = toks.size
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
    // top-2 df terms, ties by token asc
    val q = dfm.toSeq.sortBy { case (t, d) => (-d, t) }.take(2)
    val exp = toks.toSeq.map { case (id, ts) =>
      val scaled = q.flatMap { case (t, d) =>
        val tf = ts.count(_ == t)
        if (tf == 0) None
        else {
          val idf = math.log(1.0 + (nd - d + 0.5) / (d + 0.5))
          // denominator written exactly as the operator writes it:
          // len*nd as exact integers, the division last
          val s = idf * (tf * 2.2) /
            (tf + 1.2 * (0.25 + 0.75 * (ts.size.toLong * nd / toks.values.map(_.size.toLong).sum.toDouble)))
          Some(math.floor(s * 1e6).toLong)
        }
      }
      (id, scaled.size.toLong, scaled.sum)
    }.filter(_._2 > 0).sortBy { case (id, _, s) => (-s, id) }.take(3)
      .zipWithIndex.map { case ((id, n, s), i) => (id, n, s, (i + 1).toLong) }
    assert(got.toSeq.sortBy(_._4) === exp)
  }

  test("TextOps.unigramNll: rare-vocabulary docs score higher; exact scaled sums") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2"),
      (3L, "common common common common common common"))
      .toDF("doc_id", "text")
    val r = TextOps.unigramNll(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("nll_scaled"),
          x.getAs[Double]("avg_nll")))).toMap
    // corpus: common×12, rare1×1, rare2×1 → T=14, V=3
    val pc = math.floor(-math.log(13.0 / 17) * 1e6).toLong // (12+1)/(14+3)
    val pr = math.floor(-math.log(2.0 / 17) * 1e6).toLong  // (1+1)/(14+3)
    assert(r(1L)._1 === 4L && r(1L)._2 === 4 * pc)
    assert(r(2L)._2 === 2 * pc + 2 * pr)
    assert(r(3L)._2 === 6 * pc)
    // the junk-vocab doc ranks strictly above the fluent ones
    assert(r(2L)._3 > r(1L)._3 && r(1L)._3 === r(3L)._3)
    // avg_nll is the trunc4 of the exact integer sum
    assert(r(2L)._3 === math.floor((2 * pc + 2 * pr) / 1e6 / 4 * 10000) / 10000)
  }

  test("Similarity.vecOutliers: the far-from-centroid vector ranks first with exact integer distance") {
    import spark.implicits._
    // label 0: three vectors near [1, 0], one flipped to [-1, 0];
    // label 1: a tight pair (no outlier should dominate)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.9f, 0.1f), 0), (4L, Array(-1.0f, 0.0f), 0),
      (5L, Array(0.0f, 1.0f), 1), (6L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.vecOutliers(emb, topJ = 2).collect()
      .map(x => (x.getAs[Long]("label"), x.getAs[Long]("rnk")) ->
        ((x.getAs[Long]("vec_id"), x.getAs[Long]("d2n2"), x.getAs[Long]("n"))))
      .toMap
    assert(r((0L, 1L))._1 === 4L) // the flipped vector is label 0's top outlier
    // exact recompute of d2n2 for vector 4: gs = 1/127 ⇒ qx = round(x·127)
    def qx(x: Double) = math.max(-127L, math.min(127L, math.floor(x * 127 + 0.5).toLong))
    val label0 = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.9, 0.1), Seq(-1.0, 0.0))
    val n = label0.size.toLong
    val sv = Seq(0, 1).map(d => label0.map(v => qx(v(d))).sum)
    val d2n2 = Seq(0, 1).map(d => { val t = qx(label0(3)(d)) * n - sv(d); t * t }).sum
    assert(r((0L, 1L))._2 === d2n2 && r((0L, 1L))._3 === n)
    // the tight pair: both members equidistant (symmetric), tiny distance
    assert(r((1L, 1L))._2 === r((1L, 2L))._2)
  }

  test("Similarity.labelNoise: a mislabeled vector inside a tight cluster is flagged; clean ones are not") {
    import spark.implicits._
    // cluster A along +x: five label-1 vectors and ONE labeled 2 (id 6);
    // cluster B along +y: four label-2 vectors
    val a = (1L to 5L).map(i => (i, Array(1.0f, 0.01f * i, 0.0f, 0.0f), 1))
    val bad = Seq((6L, Array(1.0f, 0.03f, 0.0f, 0.0f), 2))
    val b = (7L to 10L).map(i => (i, Array(0.0f, 0.01f * i, 1.0f, 0.0f), 2))
    val emb = (a ++ bad ++ b).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelNoise(emb, k = 3).collect()
      .map(x => x.getAs[Long]("vec_id") ->
        ((x.getAs[Long]("label"), x.getAs[Long]("pred_label"),
          x.getAs[Long]("votes"), x.getAs[Long]("k_eff")))).toMap
    // the planted mislabel is caught: neighbors vote label 1
    assert(r.contains(6L))
    assert(r(6L)._1 === 2L && r(6L)._2 === 1L)
    assert(r(6L)._3 === r(6L)._4) // unanimous within cluster A
    // no clean cluster-B member is flagged (their neighbors are label 2)
    (7L to 10L).foreach(i => assert(!r.contains(i)))
  }

  test("TextOps.vocabCoverage: cumulative shares at the requested ranks, exact counts") {
    import spark.implicits._
    // counts: a×5, b×3, c×2, d×1 (ties impossible) → total 11, vocab 4
    val docs = Seq((1L, "a a a b b c"), (2L, "a a b c d")).toDF("doc_id", "text")
    val r = TextOps.vocabCoverage(docs, ks = Seq(1L, 2L, 4L)).collect()
      .map(x => x.getAs[Long]("k") ->
        ((x.getAs[Long]("cum_tokens"), x.getAs[Long]("total_tokens"),
          x.getAs[Long]("vocab_size"), x.getAs[Double]("coverage")))).toMap
    assert(r.keySet === Set(1L, 2L, 4L))
    assert(r(1L)._1 === 5L && r(2L)._1 === 8L && r(4L)._1 === 11L)
    assert(r(1L)._2 === 11L && r(1L)._3 === 4L)
    assert(r(4L)._4 === 1.0) // full vocab covers everything
    assert(r(2L)._4 === math.floor(8.0 / 11 * 10000) / 10000)
  }

  test("TextOps.boilerplate: shared templates flagged per source, distinct prefixes are not") {
    import spark.implicits._
    val tpl = "terms of service apply to this page always here"
    val docs = (1L to 4L).map(i => (i, s"$tpl extra content $i", "web")) ++
      Seq((5L, "unique document body one", "web"), (6L, s"$tpl copy", "mail"),
        (7L, "another unique one", "mail"))
    val r = TextOps.boilerplate(docs.toDF("doc_id", "text", "source"), nTok = 8, minDocs = 3)
      .collect()
    assert(r.length === 1) // only the web template crosses minDocs
    val x = r.head
    assert(x.getAs[String]("source") === "web")
    assert(x.getAs[String]("prefix") === "terms of service apply to this page always")
    assert(x.getAs[Long]("n_docs") === 4L && x.getAs[Long]("src_docs") === 5L)
    assert(x.getAs[Double]("share") === math.floor(4.0 / 5 * 10000) / 10000)
  }

  test("Analytics.shipLag: exact buckets (negative lags floor down), shares sum to 1 per priority") {
    import spark.implicits._
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-${10 + d}%02d 00:00:00")
    val orders = Seq((1L, ts(0), "1-URGENT"), (2L, ts(5), "1-URGENT"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    // lags: +3 (bucket 0), +45-ish? use day offsets within January: lag 3, lag -4
    val li = Seq((1L, ts(3)), (2L, ts(1))).toDF("l_orderkey", "l_shipdate")
    val r = Analytics.shipLag(orders, li).collect()
      .map(x => x.getAs[Long]("bucket") ->
        ((x.getAs[Long]("n"), x.getAs[Long]("min_days"), x.getAs[Long]("max_days"),
          x.getAs[Double]("share")))).toMap
    // lag 3 → bucket 0; lag −4 → floor(−4/30) = −1
    assert(r(0L) === ((1L, 3L, 3L, 0.5)))
    assert(r(-1L) === ((1L, -4L, -4L, 0.5)))
  }

  test("Graph.assortativity: a perfect star scores r = -1; a clique degenerates to NULL") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def row(u: Long, m: Int) = (u, s"""{"k":$m}""", 10.0, ts)
    // star: hub 1 pairs with leaves 2, 3, 4 in three separate cells
    // → degrees (3,1,1,1), endpoint pairs perfectly anti-correlated
    val star = Seq(row(1L, 10), row(2L, 10), row(1L, 11), row(3L, 11),
      row(1L, 12), row(4L, 12)).toDF("user_id", "props", "value", "ts")
    val rs = Graph.assortativity(star).collect().head
    assert(rs.getAs[Long]("m_edges") === 6L && rs.getAs[Long]("n_nodes") === 4L)
    assert(rs.getAs[Double]("r") === -1.0)
    // triangle clique: all degrees equal → zero variance → NULL r
    val clique = Seq(row(1L, 20), row(2L, 20), row(3L, 20))
      .toDF("user_id", "props", "value", "ts")
    val rc = Graph.assortativity(clique).collect().head
    assert(rc.getAs[Long]("m_edges") === 6L)
    assert(rc.isNullAt(rc.fieldIndex("r")))
  }

  test("Similarity.labelRecall: clean clusters score precision 1, a planted cross-label neighbor lowers it") {
    import spark.implicits._
    // cluster around +x holds labels 1 except one vector labeled 2
    // offsets large enough that trunc4'd cosines stay distinct
    val a = (0L to 4L).map(i => (i, Array(1.0f, 0.05f * i, 0.0f), 1))
    val cross = Seq((5L, Array(1.0f, 0.125f, 0.0f), 2))
    val b = (6L to 9L).map(i => (i, Array(0.0f, 0.05f * i, 1.0f), 2))
    val emb = (a ++ cross ++ b).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelRecall(emb, queryIds = Seq(0L, 6L), k = 3).collect()
      .map(x => x.getAs[Long]("q_id") ->
        ((x.getAs[Long]("q_label"), x.getAs[Long]("n_same"), x.getAs[Long]("k_eff"),
          x.getAs[Double]("label_precision")))).toMap
    // query 0 (label 1): its 3 nearest in-cluster neighbors include the
    // planted label-2 vector → precision 2/3
    assert(r(0L)._1 === 1L && r(0L)._3 === 3L)
    assert(r(0L)._2 === 2L && math.abs(r(0L)._4 - math.floor(2.0 / 3 * 10000) / 10000) < 1e-9)
    // query 6 (label 2): cluster B is clean → precision 1
    assert(r(6L)._1 === 2L && r(6L)._2 === 3L && r(6L)._4 === 1.0)
  }

  test("Sketches.hllIntersect: inclusion-exclusion lands near the exact overlap on hand-built sets") {
    import spark.implicits._
    // purchase users 1..60, click users 31..90 → |A∩B| = 30
    val ev = ((1L to 60L).map(u => (u, "purchase")) ++ (31L to 90L).map(u => (u, "click")))
      .toDF("user_id", "event_type")
    val r = Sketches.hllIntersect(ev).collect().head
    assert(r.getAs[Long]("n_exact") === 30L)
    // small-range corrected HLL at m=256 is accurate to a few percent here
    assert(math.abs(r.getAs[Double]("est_intersect") - 30.0) <= 5.0)
    // union never exceeds the sum, never undershoots either single set
    assert(r.getAs[Double]("est_union") <= r.getAs[Double]("est_a") + r.getAs[Double]("est_b"))
    assert(r.getAs[Double]("est_union") >= r.getAs[Double]("est_a") - 1e-9)
  }

  test("TextOps.corpusTriage: the ledger accounts for every perturbed doc with the right precedence") {
    import spark.implicits._
    val long = ("the cat sat on the mat and it is a fine day " * 3).trim // en, 36 tokens
    val short = "uno dos tres"                                           // short AND non-en
    val docs = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
    val r = TextOps.corpusTriage(docs).collect()
      .map(x => x.getAs[String]("reason") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("n_tokens"), x.getAs[Double]("share")))).toMap
    // 4 perturbed docs: 2 raws keep/too_short, 2 copies collapse as duplicates
    assert(r("duplicate")._1 === 2L)
    assert(r("keep") === ((1L, 36L, 0.25)))
    // precedence: the short non-en doc reports too_short, not und_lang
    assert(r("too_short")._1 === 1L && !r.contains("und_lang"))
    assert(r.values.map(_._1).sum === 4L)
  }

  test("Similarity.mmrRerank: an exact duplicate is passed over for a diverse lower-relevance result") {
    import spark.implicits._
    // query 0; candidates: 1 and its exact duplicate 2 (sim = 1), and a
    // diverse lower-relevance 3. Pure relevance would pick {1, 2};
    // MMR at λ = 0.5 picks {1, 3}.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.1f, 0.0f), 0),
      (2L, Array(1.0f, 0.1f, 0.0f), 0),
      (3L, Array(0.8f, 0.0f, 0.6f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.mmrRerank(emb, queryIds = Seq(0L), k = 3, sel = 2, lam = 0.5)
      .collect().map(x => x.getAs[Long]("pick") ->
        ((x.getAs[Long]("vec_id"), Option(x.getAs[java.lang.Double]("mmr"))))).toMap
    assert(r(1L)._1 === 1L && r(1L)._2 === None) // top relevance, tie-broken to id 1
    assert(r(2L)._1 === 3L) // the duplicate (score 0.5·rel − 0.5·1 < 0) loses
    // scalar recompute of the winning MMR score: 0.5·0.8 − 0.5·sim(3,1)
    val sim31 = math.floor(0.8 / math.sqrt(1.01 * 1.0) * 10000) / 10000
    val rel3 = 0.8
    val exp = math.floor((0.5 * rel3 - 0.5 * sim31) * 10000) / 10000
    assert(math.abs(r(2L)._2.get - exp) < 2e-4) // float32 storage slack
  }

  test("Dedup.bandTuning: looser banding never loses recall; counts reconcile with the pool") {
    val r = Dedup.bandTuning(Tables.documents(spark, sf)).collect()
      .map(x => x.getAs[Long]("n_bands") ->
        ((x.getAs[Long]("n_candidates"), x.getAs[Long]("n_verified"),
          x.getAs[Long]("n_pool_true")))).toMap
    assert(r.keySet === Set(2L, 4L, 8L))
    val pool = r.values.head._3
    r.values.foreach { case (nc, nv, np) =>
      assert(np === pool)      // one shared truth pool
      assert(nv <= nc)         // verified ⊆ candidates
      assert(nv <= pool)       // verified ⊆ pool truth
    }
    // more bands = looser S-curve = candidate superset ⇒ monotone counts
    assert(r(2L)._1 <= r(4L)._1 && r(4L)._1 <= r(8L)._1)
    assert(r(2L)._2 <= r(4L)._2 && r(4L)._2 <= r(8L)._2)
    // the pool is exactly what the loosest useful geometry verified or more
    assert(r.values.map(_._2).max <= pool)
  }

  test("Graph.graphChurn: identical weeks score 1.0, disjoint weeks 0.0, exact counts") {
    import spark.implicits._
    val W = 604800000L
    def ts(week: Long, m: Int) = new java.sql.Timestamp(week * W + m * 3600000L)
    def row(u: Long, m: Int, week: Long) = (u, s"""{"k":$m}""", 10.0, ts(week, m))
    // week 0 and week 1: the SAME pair (1,2) at merchant 5; week 2: a
    // disjoint pair (3,4) at merchant 6
    val ev = Seq(row(1L, 5, 0), row(2L, 5, 0), row(1L, 5, 1), row(2L, 5, 1),
      row(3L, 6, 2), row(4L, 6, 2))
      .toDF("user_id", "props", "value", "ts")
    val r = Graph.graphChurn(ev).collect()
      .map(x => x.getAs[Long]("week_ms") / W ->
        ((x.getAs[Long]("n_edges"), x.getAs[Long]("n_next"),
          x.getAs[Long]("n_shared"), x.getAs[Double]("edge_jaccard")))).toMap
    assert(r(0L) === ((1L, 1L, 1L, 1.0))) // same structure persists
    assert(r(1L) === ((1L, 1L, 0L, 0.0))) // full rotation
    assert(r.size === 2)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Graph.personalizedPageRank: mass stays in the seed's reachable set") {
    import spark.implicits._
    // user 1 alternates purchase/click (a 2-cycle with the seed);
    // user 2 lives in a disconnected view→error world: nothing flows
    // from the seed into it, so its PPR must be exactly zero
    def row(u: Long, i: Int, t: String) =
      (u * 100 + i, u, t, 1.0, "{}", 1700000000000L + i * 60000L)
    val ev = (Seq("purchase", "click", "purchase", "click").zipWithIndex
        .map { case (t, i) => row(1, i, t) } ++
      Seq("view", "error", "view", "error").zipWithIndex
        .map { case (t, i) => row(2, i, t) })
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Graph.personalizedPageRank(ev).collect()
      .map(x => x.getAs[String]("node") -> x.getAs[Long]("ppr_scaled")).toMap
    assert(r("purchase") > 0 && r("click") > 0)
    assert(r("view") === 0 && r("error") === 0)
    // after round 1 the seed's whole non-restart mass sits on `click`
    assert(r("click") > r("purchase"))
  }

  test("TextOps.bigramLm: held-out add-1 NLL and unseen rate, exact integers") {
    import spark.implicits._
    // train (even ids): bigrams (a,b)x3, (b,a)x1 → c1: a=3, b=1; V=2
    // test (odd id): (a,b) seen p=4/5; (b,c) unseen p=1/3
    val docs = Seq((0L, "a b a b"), (2L, "a b"), (1L, "a b c"))
      .toDF("doc_id", "text")
    val r = TextOps.bigramLm(docs).collect()
    assert(r.length === 1)
    val d = r.head
    assert(d.getAs[Long]("doc_id") === 1L)
    assert(d.getAs[Long]("n_bigrams") === 2L)
    assert(d.getAs[Long]("n_unseen") === 1L)
    val expected = math.floor(-math.log(4.0 / 5) * 1e6).toLong +
      math.floor(-math.log(1.0 / 3) * 1e6).toLong
    assert(d.getAs[Long]("nll_scaled") === expected)
    assert(d.getAs[Double]("unseen_rate") === 0.5)
  }

  test("Similarity.hardNegatives: only cross-label neighbors, nearest first") {
    import spark.implicits._
    // one tight +x cluster so every vector shares every band: ids 0-2
    // label 1, ids 3-4 label 2. Query 0 must surface ONLY 3 and 4.
    val emb = Seq(
      (0L, Array(1.0f, 0.010f, 0f, 0f), 1), (1L, Array(1.0f, 0.011f, 0f, 0f), 1),
      (2L, Array(1.0f, 0.012f, 0f, 0f), 1), (3L, Array(1.0f, 0.013f, 0f, 0f), 2),
      (4L, Array(1.0f, 0.020f, 0f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(emb, Seq(0L), k = 10).collect()
    assert(r.map(_.getAs[Long]("vec_id")).toSet === Set(3L, 4L))
    assert(r.forall(_.getAs[Long]("neg_label") === 2L))
    assert(r.forall(_.getAs[Long]("q_label") === 1L))
    val byRnk = r.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos"))
    assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a >= b })
  }

  test("Monitoring.schemaDrift: the value-nulling slice drifts, stable columns do not") {
    val r = Monitoring.schemaDrift(Tables.events(spark, sf)).collect()
      .map(x => x.getAs[String]("column_name") -> x).toMap
    assert(r.size === 5)
    assert(r("value").getAs[Boolean]("null_drift"),
      "1-in-13 value nulling must trip the null-rate verdict")
    assert(!r("event_type").getAs[Boolean]("null_drift"))
    assert(!r("event_type").getAs[Boolean]("distinct_drift"))
    assert(r("event_id").getAs[Long]("n_rows_b") < r("event_id").getAs[Long]("n_rows_a"))
    assert(r("event_id").getAs[Long]("n_nulls_a") === 0L)
  }

  test("Graph.adamicAdar: selective common users score exactly, hubs weigh less") {
    import spark.implicits._
    // u1..u3 shop at exactly {1, 2} → fan 2 each; AA(1,2) = 3·⌊1e6/ln 2⌋
    val ev = (for (u <- 1L to 3L; m <- Seq(1, 2)) yield
      (u * 10 + m, u, "purchase", 5.0, s"""{"k":"$m"}""", 1700000000000L))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
      .withColumn("ts", expr("timestamp_micros(ts_ms * 1000)"))
    val r = Graph.adamicAdar(ev).collect()
    assert(r.length === 1)
    val row = r.head
    assert((row.getAs[Long]("m1"), row.getAs[Long]("m2")) === ((1L, 2L)))
    assert(row.getAs[Long]("n_common") === 3L)
    val w = math.floor(1e6 / math.log(2.0)).toLong
    assert(row.getAs[Long]("aa_scaled") === 3 * w)
  }

  test("Graph.negativeEdges: sampled pairs are genuine non-edges, bounded per node") {
    import spark.implicits._
    // users connect merchants {1,2} only; merchants 3..6 are isolated
    val connected = for (u <- 1L to 3L; m <- Seq(1, 2)) yield
      (u * 10 + m, u, "purchase", 5.0, s"""{"k":"$m"}""", 1700000000000L)
    val isolated = (3 to 6).map(m =>
      (100L + m, 100L + m, "view", 1.0, s"""{"k":"$m"}""", 1700000000000L))
    val ev = (connected ++ isolated)
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
      .withColumn("ts", expr("timestamp_micros(ts_ms * 1000)"))
    val r = Graph.negativeEdges(ev).collect()
      .map(x => (x.getAs[Long]("m1"), x.getAs[Long]("m2")))
    assert(r.nonEmpty)
    assert(!r.contains((1L, 2L)), "the one true edge leaked into the negatives")
    assert(r.forall { case (a, b) => a < b && a >= 1 && b <= 6 })
    assert(r.distinct.length === r.length)
  }

  test("Similarity.hybridSearch: every score is the exact RRF of its own rank columns") {
    val r = Similarity.hybridSearch(
      Tables.documents(spark, sf), Tables.embeddings(spark, sf)).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val rt = Option(row.getAs[java.lang.Long]("rnk_text")).map(_.toLong)
      val rv = Option(row.getAs[java.lang.Long]("rnk_vec")).map(_.toLong)
      assert(rt.isDefined || rv.isDefined)
      val expect = rt.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rv.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(row.getAs[Double]("score") === math.floor(expect * 1e6) / 1e6)
    }
    // dense hybrid ranks per query, never beyond k
    r.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("hybrid_rnk")).sorted.toSeq ===
        (1L to rows.length).toSeq)
      assert(rows.length <= 10)
    }
  }

  test("Monitoring.varEs: exact order-statistic VaR and straddled-bin ES") {
    import spark.implicits._
    // amounts 1..100 dollars: k = ceil(0.99·100) = 99 → VaR = $99,
    // tail = {99, 100} → ES = $99.50
    val ev = (1 to 100).map(i =>
      (i.toLong, 1L, "purchase", i.toDouble, "{}", 1700000000000L))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Monitoring.varEs(ev).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("k_pos") === 99L)
    assert(row.getAs[Long]("var_cents") === 9900L)
    assert(row.getAs[Long]("tail_n") === 2L)
    assert(row.getAs[Long]("tail_cents") === 19900L)
    assert(row.getAs[Double]("es_usd") === 99.5)
  }

  test("Monitoring.smurfMotifs: scatter and gather fans at the threshold, nothing below") {
    import spark.implicits._
    val h = 1700000000000L / 3600000L * 3600000L
    val rows =
      // user 1 sprays 3 merchants in one hour → scatter
      (1 to 3).map(m => (10L + m, 1L, "debit", 5.0, s"""{"k":"$m"}""", h + m)) ++
      // users 2,3,4 converge on merchant 9 → gather
      (2 to 4).map(u => (20L + u, u.toLong, "debit", 5.0, """{"k":"9"}""", h + u)) ++
      // user 5 touches 2 merchants — below minFan, must not appear
      Seq((31L, 5L, "debit", 5.0, """{"k":"7"}""", h + 9),
        (32L, 5L, "debit", 5.0, """{"k":"8"}""", h + 10))
    val ev = rows.toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Monitoring.smurfMotifs(ev).collect()
      .map(x => (x.getAs[String]("motif"), x.getAs[Long]("id"), x.getAs[Long]("fan")))
    assert(r.toSet === Set(("scatter", 1L, 3L), ("gather", 9L, 3L)))
  }

  test("Monitoring.abSprt: the ledger is a prefix sum and decisions match the thresholds") {
    val rows = Monitoring.abSprt(Tables.events(spark, sf)).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(rows.nonEmpty)
    val thrHi = math.floor(math.log(19.0) * 1e6).toLong
    val thrLo = math.floor(-math.log(19.0) * 1e6).toLong
    var running = 0L
    rows.foreach { r =>
      running += r.getAs[Long]("llr_scaled")
      assert(r.getAs[Long]("cum_llr_scaled") === running)
      val expect = if (running >= thrHi) "accept_h1"
        else if (running <= thrLo) "accept_h0" else "continue"
      assert(r.getAs[String]("decision") === expect)
    }
  }

  test("TextOps.charEntropy: uniform two-char doc scores ln 2, constant doc scores 0") {
    import spark.implicits._
    val docs = Seq((1L, "aabb"), (2L, "aaaa")).toDF("doc_id", "text")
    val r = TextOps.charEntropy(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("entropy_scaled"), x.getAs[Long]("distinct_chars")))).toMap
    val halfTerm = math.floor(-(0.5) * math.log(0.5) * 1e9).toLong
    assert(r(1L) === ((2 * halfTerm, 2L))) // H = ln 2 exactly, two ⌊⌋ terms
    assert(r(2L) === ((0L, 1L)))
  }

  test("TextOps.goodTuring: frequency-of-frequencies and missing mass computed exactly") {
    import spark.implicits._
    // source a: tokens {x:2, y:1, z:1} → N=4 V=3 n1=2 n2=1,
    //   unseen = 2/4 = 0.5, r* = 2·1/2 = 1.0
    // source b: {p:1, q:1} → n1=2 n2=0, unseen = 1.0, r* = 0.0
    val docs = Seq((1L, "x x y", "a"), (2L, "z", "a"), (3L, "p q", "b"))
      .toDF("doc_id", "text", "source")
    val r = TextOps.goodTuring(docs).collect()
      .map(x => x.getAs[String]("source") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("n_types"),
          x.getAs[Long]("n_singletons"), x.getAs[Long]("n_doubletons"),
          x.getAs[Double]("unseen_mass"), x.getAs[Double]("adj_singleton")))).toMap
    assert(r("a") === ((4L, 3L, 2L, 1L, 0.5, 1.0)))
    assert(r("b") === ((2L, 2L, 2L, 0L, 1.0, 0.0)))
  }

  test("TextOps.sourceJsd: identical sources diverge 0, disjoint vocabularies score the closed form") {
    import spark.implicits._
    // identical distributions → JSD 0 (the absent-token remainder
    // cancels exactly when each source covers the full corpus mass)
    val same = Seq((1L, "a b", "en", "s0", 3L), (2L, "a b", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r0 = TextOps.sourceJsd(same).collect()
      .map(_.getAs[Long]("jsd_scaled"))
    assert(r0.forall(_ === 0L))
    // disjoint vocabularies: p=[1,0] vs q=[.5,.5] → JSD ≈ 0.2158
    val disj = Seq((1L, "a a", "en", "s0", 3L), (2L, "b b", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = TextOps.sourceJsd(disj).collect().map(_.getAs[Double]("jsd"))
    assert(r1.length === 2)
    r1.foreach(j => assert(j > 0.21 && j < 0.22, s"jsd $j outside the closed form"))
  }

  test("Monitoring.dsarExport: one cover-sheet row per table, consistent ranges") {
    val r = Monitoring.dsarExport(spark, sf).collect()
      .map(x => x.getAs[String]("table_name") -> x).toMap
    assert(r.keySet === Set("events", "customer", "orders"))
    assert(r("events").getAs[Long]("n_rows") > 0)
    assert(r("customer").getAs[Long]("n_rows") <= 1)
    val o = r("orders")
    if (o.getAs[Long]("n_rows") > 0)
      assert(o.getAs[Long]("min_ts_ms") <= o.getAs[Long]("max_ts_ms"))
    assert(r("customer").isNullAt(r("customer").fieldIndex("min_ts_ms")))
  }

  test("TextOps.mixtureWaterfill: small sources go whole, the cap splits the remainder") {
    import spark.implicits._
    // token counts: s0=2, s1=6, s2=12 → T=20, B=⌊20·30/100⌋=6.
    // Boundary is s0 itself (0 + 3·2 ≥ 6) → level = 6 div 3 = 2 →
    // every source is capped at 2 tokens.
    val docs = Seq(
      (0L, "a b", "en", "s0", 3L),
      (1L, "a b c d e f", "en", "s1", 11L),
      (2L, ("x " * 12).trim, "en", "s2", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.mixtureWaterfill(docs).collect()
      .map(x => x.getAs[String]("source") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("alloc_tokens"),
          x.getAs[Long]("fill_level")))).toMap
    assert(r("s0") === ((2L, 2L, 2L)))
    assert(r("s1") === ((6L, 2L, 2L)))
    assert(r("s2") === ((12L, 2L, 2L)))
  }

  test("Similarity.ndcgAtK: perfect ranking scores 1.0, relevance-last scores below") {
    import spark.implicits._
    // query 0 (label 1): ids 1,2 share the label and sit nearest
    // (+x cluster); 3,4 differ (+y-ish) → rel = [1,1,0,0] = ideal
    // prefix → nDCG exactly 1.0
    val emb = Seq(
      (0L, Array(1.0f, 0.00f, 0f, 0f), 1), (1L, Array(1.0f, 0.01f, 0f, 0f), 1),
      (2L, Array(1.0f, 0.02f, 0f, 0f), 1), (3L, Array(0.0f, 1.00f, 0f, 0f), 2),
      (4L, Array(0.1f, 1.00f, 0f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.ndcgAtK(emb, Seq(0L), k = 4).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_same") === 2L)
    assert(r.head.getAs[Double]("ndcg") === 1.0)
    // flip the query's label: now the two relevant docs rank LAST
    val r2 = Similarity.ndcgAtK(
      emb.withColumn("label", when(col("vec_id") === 0L, 2).otherwise(col("label"))),
      Seq(0L), k = 4).collect()
    assert(r2.head.getAs[Double]("ndcg") < 1.0 && r2.head.getAs[Double]("ndcg") > 0.0)
  }

  test("Media.mediaShards: byte totals reconcile and every shard id is in range") {
    val r = Media.mediaShards(Tables.documents(spark, sf)).collect()
    assert(r.nonEmpty)
    // the planner never loses bytes or files: per-type shard sums must
    // reconcile with the payload relation itself
    val truth = Media.payloads(Tables.documents(spark, sf))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("nf"), sum(length(col("content")).cast("long")).as("tb"))
      .collect()
      .map(x => x.getAs[String]("media_type") ->
        ((x.getAs[Long]("nf"), x.getAs[Long]("tb")))).toMap
    r.groupBy(_.getAs[String]("media_type")).foreach { case (mt, rows) =>
      val nShards = rows.head.getAs[Long]("n_shards")
      assert(rows.forall(x => x.getAs[Long]("shard_id") >= 0 &&
        x.getAs[Long]("shard_id") < nShards))
      assert(rows.map(_.getAs[Long]("n_files")).sum === truth(mt)._1)
      assert(rows.map(_.getAs[Long]("shard_bytes")).sum === truth(mt)._2)
    }
  }

  test("Wav: a real chunk-walking decoder — decodes canonical PCM bytes, rejects every malformation") {
    import graft.functions.Wav
    // a canonical 44-byte PCM WAV built BY HAND (not via synth): mono,
    // 8kHz, 16-bit, 4 data bytes = 2 samples — the file any tool writes
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def ascii(s: String) = s.getBytes("US-ASCII")
    val canonical: Array[Byte] =
      ascii("RIFF") ++ le32(36) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16) ++
        ascii("data") ++ le32(4) ++ Array[Byte](1, 2, 3, 4)
    val h = Wav.parse(canonical)
    assert(h != null)
    assert(h.getLong(0) === 1L && h.getLong(1) === 8000L && h.getLong(2) === 16L)
    assert(h.getLong(3) === 4L && h.getLong(4) === 2L) // 4 bytes / blockAlign 2
    // odd-size unknown chunk BEFORE data: the spec pads to even — a
    // walker that forgets the pad byte misreads the next chunk id
    val oddChunk: Array[Byte] =
      ascii("RIFF") ++ le32(36 + 8 + 3 + 1) ++ ascii("WAVE") ++
        ascii("LIST") ++ le32(3) ++ Array[Byte](9, 9, 9, 0) ++ // 3 bytes + pad
        ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(8000) ++ le16(1) ++ le16(8) ++
        ascii("data") ++ le32(4) ++ Array[Byte](1, 2, 3, 4)
    val h2 = Wav.parse(oddChunk)
    assert(h2 != null && h2.getLong(4) === 4L)
    // every malformation reads NULL: short, bad magic, bad form tag,
    // non-PCM format code, data chunk longer than the file, no fmt
    assert(Wav.parse(canonical.take(10)) === null)
    assert(Wav.parse(ascii("RIFX") ++ canonical.drop(4)) === null)
    assert(Wav.parse(canonical.take(8) ++ ascii("AVI ") ++ canonical.drop(12)) === null)
    val nonPcm = canonical.clone(); nonPcm(20) = 3 // IEEE float format code
    assert(Wav.parse(nonPcm) === null)
    val truncData = canonical.clone()
    truncData(40) = 99 // data size 99 > remaining 4 bytes
    assert(Wav.parse(truncData) === null)
    val noFmt = ascii("RIFF") ++ le32(16) ++ ascii("WAVE") ++
      ascii("data") ++ le32(4) ++ Array[Byte](1, 2, 3, 4)
    assert(Wav.parse(noFmt) === null)
    // synth renders bytes the parser round-trips, for every param combo
    import org.apache.spark.unsafe.types.UTF8String
    for (id <- 0L until 8L) {
      val b = Wav.synth(id, UTF8String.fromString("hello wav bytes"))
      val r = Wav.parse(b)
      assert(r != null, s"id $id")
      assert(r.getLong(0) === 1 + id % 2)
      assert(r.getLong(1) === 8000 * (1 + id % 4))
      val c = 1 + id % 2
      assert(r.getLong(3) === 15 - (15 % c))
    }
    // and the oracled query's own invariants at sf: damaged rows NULL,
    // intact rows decoded (drives the full codegen path end-to-end)
    val out = graft.operators.Media.wavAudit(Tables.documents(spark, sf)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0); val ok = r.getBoolean(2)
      assert(ok === (id % 7 != 0 && id % 7 != 3), s"doc $id verdict")
      if (ok) assert(r.getLong(4) === 8000 * (1 + id % 4), s"doc $id rate")
      else assert(r.isNullAt(4), s"doc $id should be NULL")
    }
  }

  test("Bmp: a real raster decoder — bottom-up rows, BGR, stride padding, offset honored; rejects malformations") {
    import graft.functions.Bmp
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // a canonical 2×2 24-bit BMP built BY HAND: logical top row pixels
    // (B,G,R) = (10,20,30),(11,21,31); bottom row (40,50,60),(41,51,61);
    // rows STORED bottom-up with stride 8 (6 pixel bytes + 2 pad)
    val canonical: Array[Byte] =
      Array[Byte]('B', 'M') ++ le32(70) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
        le32(16) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++
        Array[Byte](40, 50, 60, 41, 51, 61, 0, 0) ++ // stored row 0 = logical BOTTOM
        Array[Byte](10, 20, 30, 11, 21, 31, 0, 0)    // stored row 1 = logical TOP
    val h = Bmp.stats(canonical)
    assert(h != null)
    assert(h.getLong(0) === 2L && h.getLong(1) === 2L && h.getLong(2) === 8L)
    assert(h.getLong(3) === 102L && h.getLong(4) === 142L && h.getLong(5) === 182L)
    // the LOGICAL top-left pixel lives in the LAST stored row — a
    // decoder that reads the first stored row returns (40,50,60)
    assert(h.getLong(6) === 10L && h.getLong(7) === 20L && h.getLong(8) === 30L)
    // every malformation reads NULL: short, bad magic, wrong info-header
    // size, 8-bit, compressed, TOP-DOWN (negative height), truncated
    // pixel array, data offset pointing into the header
    assert(Bmp.stats(canonical.take(40)) === null)
    val badMagic = canonical.clone(); badMagic(1) = 'X'
    assert(Bmp.stats(badMagic) === null)
    val badInfo = canonical.clone(); badInfo(14) = 12 // BITMAPCOREHEADER
    assert(Bmp.stats(badInfo) === null)
    val bpp8 = canonical.clone(); bpp8(28) = 8
    assert(Bmp.stats(bpp8) === null)
    val rle = canonical.clone(); rle(30) = 1 // BI_RLE8
    assert(Bmp.stats(rle) === null)
    val topDown = canonical.take(22) ++ le32(-2) ++ canonical.drop(26)
    assert(Bmp.stats(topDown) === null)
    assert(Bmp.stats(canonical.dropRight(3)) === null) // truncated pixels
    val badOff = canonical.clone(); badOff(10) = 20
    assert(Bmp.stats(badOff) === null)
    // synth renders bytes the decoder round-trips to the closed forms,
    // for every (w, h, gap) combination — including the header/pixel gap
    // a fixed-offset-54 reader would trip over
    import org.apache.spark.unsafe.types.UTF8String
    val text = UTF8String.fromString("hello bmp bytes")
    for (id <- 0L until 12L) {
      val b = Bmp.synth(id, text)
      val r = Bmp.stats(b)
      assert(r != null, s"id $id")
      val w = 2 + id % 6; val hh = 1 + id % 4
      val seed = 31 * id + 7 * 15
      val npix = w * hh
      assert(r.getLong(0) === w && r.getLong(1) === hh, s"id $id dims")
      assert(r.getLong(2) === ((3 * w + 3) / 4) * 4, s"id $id stride")
      def chanSum(ch: Long) = (0L until npix).map(p => (seed + 3 * p + ch) % 256).sum
      assert(r.getLong(3) === chanSum(0) && r.getLong(4) === chanSum(1) &&
        r.getLong(5) === chanSum(2), s"id $id sums")
      assert(r.getLong(6) === seed % 256 && r.getLong(7) === (seed + 1) % 256 &&
        r.getLong(8) === (seed + 2) % 256, s"id $id top-left")
    }
    // and the oracled query's own invariants at sf: damaged rows NULL,
    // intact rows decoded (drives the full codegen path end-to-end)
    val out = graft.operators.Media.bmpAudit(Tables.documents(spark, sf)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0); val ok = r.getBoolean(2)
      assert(ok === (id % 9 != 0 && id % 9 != 4), s"doc $id verdict")
      if (ok) assert(r.getLong(3) === 2 + id % 6, s"doc $id width")
      else assert(r.isNullAt(3), s"doc $id should be NULL")
    }
  }

  test("Media.corruptAudit: verdict ledger equals a byte-level recompute of the damage rule") {
    val got = Media.corruptAudit(Tables.documents(spark, sf)).collect()
      .map(r => (r.getAs[String]("media_type"), r.getAs[String]("verdict")) ->
        ((r.getAs[Long]("n_blobs"), r.getAs[Long]("bytes"), r.getAs[Double]("share"))))
      .toMap
    // replay the deterministic damage + verdict rules from raw documents
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val blobs = docs.flatMap { case (id, text) =>
      val full = text.getBytes("UTF-8").length.toLong
      val dmg =
        if (id % 3 == 0) text.substring(0, math.min(3, text.length)).getBytes("UTF-8").length.toLong
        else if (id % 3 == 1) 0L
        else full
      val mt = if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"
      Seq((mt, full), (mt, dmg))
    }
    def verdict(len: Long) =
      if (len == 0) "empty" else if (len < 8) "truncated" else "ok"
    val typeTotals = blobs.groupBy(_._1).map { case (mt, xs) => mt -> xs.length.toLong }
    val expect = blobs.groupBy { case (mt, len) => (mt, verdict(len)) }
      .map { case (k, xs) =>
        k -> ((xs.length.toLong, xs.map(_._2).sum,
          math.floor(xs.length.toDouble / typeTotals(k._1) * 10000) / 10000))
      }
    assert(got === expect)
  }

  test("Similarity.lofScores: LOF algebra equals an exact replay over the operator's own kNN edges") {
    val k = 5; val topN = 20
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.lofScores(emb, k, topN).collect().sortBy(_.getAs[Long]("rnk"))
    assert(got.length === topN)
    assert(got.map(_.getAs[Long]("rnk")).toSeq === (1 to topN).map(_.toLong))
    // replay kdist -> reach -> lrd -> LOF from the SAME banded edges,
    // with the same integer dist4 and the same l1+..+lk textual fold
    val edges = Similarity.knnGraph(emb, k)
      .select(col("src_id"), col("dst_id"), col("rnk"), col("cos"))
      .collect().map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("dst_id"),
        r.getAs[Long]("rnk").toInt,
        10000L - math.floor(r.getAs[Double]("cos") * 10000 + 0.5).toLong))
    val bySrc = edges.groupBy(_._1)
    val kd = bySrc.map { case (s, es) => s -> es.map(_._4).max }
    val lrd = bySrc.flatMap { case (s, es) =>
      val reach = es.flatMap(e => kd.get(e._2).map(kdd => math.max(kdd, e._4)))
      if (reach.length == k && reach.sum > 0)
        Some(s -> (k * 10000.0 / reach.sum)) else None
    }
    val lof = bySrc.flatMap { case (s, es) =>
      val nb = es.filter(e => lrd.contains(e._2)).sortBy(_._3)
      for (self <- lrd.get(s) if nb.length == k) yield {
        val fold = nb.map(e => lrd(e._2)).reduceLeft(_ + _)
        s -> math.floor((fold / k) / self * 10000) / 10000
      }
    }
    val expectTop = lof.toSeq.sortBy { case (s, v) => (-v, s) }.take(topN)
    assert(got.map(r => (r.getAs[Long]("src_id"), r.getAs[Double]("lof"))).toSeq
      === expectTop)
  }

  test("Analytics.treeDepth2: root and child splits are the exact greedy argmax per node") {
    val got = Analytics.treeDepth2(Tables.events(spark, sf)).collect()
      .map(r => r.getAs[String]("node") ->
        ((r.getAs[String]("feature"), r.getAs[Long]("split_bin"),
          r.getAs[Long]("n_left"), r.getAs[Long]("pos_left")))).toMap
    val rows = Tables.events(spark, sf).select(
        expr("case when event_type = 'purchase' then 1L else 0L end").as("y"),
        expr("cast(floor(value / 0.5) as long)").as("vbin"),
        expr("cast(get_json_object(props, '$.k') as long)").as("kbin"))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2)))
    // exact greedy split over one node's rows: (s, feature, bin) argmax
    def best(rs: Seq[(Long, Any, Any)]): Option[(String, Long, Long, Long)] = {
      val cands = Seq("value" -> rs.map(r => (r._2, r._1)),
        "props_k" -> rs.map(r => (r._3, r._1))).flatMap { case (f, xs) =>
        val cells = xs.collect { case (b: Long, y) => (b, y) }
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (b, g) => (b, g.length.toLong, g.map(_._2).sum) }
        val nt = cells.map(_._2).sum; val post = cells.map(_._3).sum
        var nl = 0L; var posl = 0L
        cells.flatMap { case (b, n, pos) =>
          nl += n; posl += pos
          val (nr, posr) = (nt - nl, post - posl)
          if (nr > 0) {
            val (negl, negr) = (nl - posl, nr - posr)
            val s = ((posl * posl + negl * negl) * nr +
              (posr * posr + negr * negr) * nl).toDouble / (nl * nr)
            Some((s, f, b, nl, posl))
          } else None
        }
      }
      if (cands.isEmpty) None
      else {
        val (_, f, b, nl, posl) = cands.minBy { case (s, f, b, _, _) => (-s, f, b) }
        Some((f, b, nl, posl))
      }
    }
    val Some(root) = best(rows)
    assert(got("root") === root)
    val sided = rows.flatMap { r =>
      val fb = if (root._1 == "value") r._2 else r._3
      fb match {
        case b: Long => Some((if (b <= root._2) "left" else "right", r))
        case _ => None
      }
    }
    Seq("left", "right").foreach { side =>
      best(sided.filter(_._1 == side).map(_._2)) match {
        case Some(exp) => assert(got(side) === exp, s"$side child split")
        case None => assert(!got.contains(side), s"$side child should emit no row")
      }
    }
  }

  test("Monitoring.skylineMerchants: only non-dominated points survive; exact ties both stay") {
    import spark.implicits._
    // (cents, users): m1 (300, 1), m2 (200, 2), m3 (100, 3) = frontier;
    // m4 (150, 1) dominated by m2; m5 ties m2 exactly → both stay
    def rows(m: Int, users: Seq[Long], cents: Long) = users.map(u =>
      (m * 1000L + u, u, "debit", cents / 100.0 / users.size, s"""{"k":"$m"}""", 1700000000000L))
    val ev = (rows(1, Seq(1L), 300) ++ rows(2, Seq(2L, 3L), 200) ++
      rows(3, Seq(4L, 5L, 6L), 100) ++ rows(4, Seq(7L), 150) ++
      rows(5, Seq(8L, 9L), 200))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Monitoring.skylineMerchants(ev).collect()
      .map(_.getAs[Long]("m")).sorted
    assert(r.toSeq === Seq(1L, 2L, 3L, 5L))
  }

  test("Monitoring.timeWeightedBalance: levels weigh by held duration, exact integers") {
    import spark.implicits._
    // credit 100 held 10 ms, then purchase 40 → bal 60 held 30 ms
    // → TWAB = ($100·10 + $60·30) / 40 = $70.00
    val ev = Seq(
      (1L, 1L, "credit", 100.0, "{}", 1000L),
      (2L, 1L, "purchase", 40.0, "{}", 1010L),
      (3L, 1L, "credit", 1.0, "{}", 1040L))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Monitoring.timeWeightedBalance(ev).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("span_ms") === 40L)
    assert(r.head.getAs[Long]("weighted_scaled") === 10000L * 10 + 6000L * 30)
    assert(r.head.getAs[Double]("twab_usd") === 70.0)
  }

  test("Monitoring.rollingCorr: perfectly co-moving series score 1, n respects the frame") {
    import spark.implicits._
    // y = 2x daily for 5 days → rolling corr exactly 1.0 once n ≥ 3
    val D = 86400000L
    val ev = (0 until 5).flatMap { d =>
      Seq((d * 2L, 1L, "purchase", (d + 1) * 10.0, "{}", d * D + 1),
        (d * 2L + 1, 1L, "view", (d + 1) * 20.0, "{}", d * D + 2))
    }.toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Monitoring.rollingCorr(ev).collect().sortBy(_.getAs[Long]("day"))
    assert(r.length === 3) // days 2..4 have n >= 3
    assert(r.forall(_.getAs[Double]("corr_7d") === 1.0))
    assert(r.map(_.getAs[Long]("n_days")).toSeq === Seq(3L, 4L, 5L))
  }

  test("TextOps.keyphrases: distinctive repeated terms win; corpus-wide terms score zero") {
    import spark.implicits._
    // 'spark' appears in 2 of 4 docs (idf ln 2), 'the' in all 4
    // (idf 0 → filtered by score > 0), hapax terms df=1 are excluded
    val docs = Seq(
      (1L, "the spark spark engine"), (2L, "the spark plan"),
      (3L, "the quiet dog"), (4L, "the quiet cat"))
      .toDF("doc_id", "text")
    val r = TextOps.keyphrases(docs).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("term"),
        x.getAs[Long]("rnk"), x.getAs[Long]("score_scaled")))
    val d1 = r.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq === Seq("spark")) // tf 2 · ln(4/2); 'the' zero, 'engine' hapax
    assert(d1.head._4 === 2 * math.floor(math.log(2.0) * 1e6).toLong)
    assert(!r.exists(_._2 == "the"))
    assert(r.filter(_._1 == 3L).map(_._2).toSeq === Seq("quiet"))
  }

  test("Monitoring.weekDiscord: the planted odd week is every type's top discord") {
    import spark.implicits._
    // 4 weeks of flat $10 days for one type; week 2 spikes to $100 —
    // its nearest neighbor is still 7·9000² away, all others are 0
    val D = 86400000L
    val ev = (0 until 28).map { d =>
      val amt = if (d / 7 == 2) 100.0 else 10.0
      (d.toLong, 1L, "purchase", amt, "{}", d * D + 1)
    }.toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Monitoring.weekDiscord(ev).collect()
      .sortBy(_.getAs[Long]("discord_rank"))
    assert(r.head.getAs[Long]("week") === 2L)
    assert(r.head.getAs[Double]("nn_dist2") === 7.0 * 9000.0 * 9000.0)
    // the flat weeks are mutual zero-distance neighbors
    assert(r.drop(1).forall(_.getAs[Double]("nn_dist2") === 0.0))
  }

  test("Monitoring.sloBurn: the multiwindow rule pages on sustained burn, not a blip") {
    import spark.implicits._
    val H = 3600000L
    // hours 0-5 healthy (1 error / 100 = exactly SLO, burn 1.0);
    // hour 6: 20/100 errors → burn_1h 20 ≥ 14.4 but the 6h window is
    // diluted → no page; hours 7-11 keep burning 20% → 6h catches up
    def hour(h: Int, errs: Int) = (0 until 100).map(i =>
      (h * 1000L + i, 1L, if (i < errs) "error" else "view", 1.0, "{}", h * H + i))
    val ev = ((0 to 5).flatMap(hour(_, 1)) ++ (6 to 11).flatMap(hour(_, 20)))
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts_ms")
    val r = Monitoring.sloBurn(ev).collect()
      .map(x => x.getAs[Long]("h") ->
        ((x.getAs[Double]("burn_1h"), x.getAs[Boolean]("page")))).toMap
    assert(r(0L) === ((1.0, false)))
    assert(r(6L)._1 === 20.0 && !r(6L)._2, "a single hot hour must not page")
    assert(r(11L)._2, "six sustained hot hours must page")
  }

  test("approxDistinct: bound verdicts hold and exact side matches distinctExact") {
    val r = Analytics.approxDistinct(Tables.lineitem(spark, sf)).head()
    assert(r.getAs[Boolean]("parts_within_5pct"),
      "HLL(rsd=0.01) part estimate strayed beyond 5% of exact")
    assert(r.getAs[Boolean]("orders_within_5pct"))
    val e = Analytics.distinctExact(Tables.lineitem(spark, sf)).head()
    assert(r.getAs[Long]("n_parts_exact") === e.getAs[Long]("n_parts"))
  }

  test("statsAgg: every accumulator-vs-exact verdict is true on real data") {
    val rows = SqlCoverage.statsAgg(Tables.orders(spark, sf)).collect()
    assert(rows.nonEmpty)
    for (r <- rows; c <- Seq("corr_ok", "covar_ok", "stddev_ok", "var_ok", "median_ok"))
      assert(r.getAs[Boolean](c), s"$c false for ${r.getAs[String]("o_orderpriority")}")
  }
}
