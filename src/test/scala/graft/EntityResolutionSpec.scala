package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EntityResolution

class EntityResolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def part = spark.read
    .parquet(s"${TestSpark.sf0001}/part.parquet")
    .select(col("p_partkey"), col("p_name"), col("p_brand"))

  test("token-blocked pairs are lossless vs the exhaustive-within-block " +
      "generator (the recall contract the oracle also proves)") {
    val fast = EntityResolution
      .tokenBlockedPairs(part, "p_partkey", "p_name", "p_brand", 0.9)
      .select("pk_a", "pk_b", "jw")
    val slow = EntityResolution
      .blockedPairsExhaustive(part, "p_partkey", "p_name", "p_brand", 0.9)
      .select("pk_a", "pk_b", "jw")
    assert(fast.count() > 0)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
      "token inverted index must drop no qualifying pair on the fixture")
  }

  test("candidate volume is match-proportional, not block-size-squared") {
    // raw candidate rows reaching the JW verify under each generator
    def cands(tk: Boolean): Long = {
      val base = part
      if (tk) {
        val t = base.select(col("p_partkey").as("pk"), col("p_brand"),
          explode(split(col("p_name"), " ")).as("tok"))
        t.as("a").join(t.as("b"), Seq("p_brand", "tok"))
          .filter(col("a.pk") < col("b.pk")).count()
      } else {
        base.select(col("p_partkey").as("pk"), col("p_brand")).as("a")
          .join(base.select(col("p_partkey").as("pk"), col("p_brand")).as("b"),
            "p_brand")
          .filter(col("a.pk") < col("b.pk")).count()
      }
    }
    val matches = EntityResolution
      .tokenBlockedPairs(part, "p_partkey", "p_name", "p_brand", 0.9).count()
    val tokenCands = cands(tk = true)
    val exhaustive = cands(tk = false)
    // measured: ~11x matches for the token index (scale-invariant sf0.01 ->
    // sf0.1) vs ~49x for brand-only; gate at a loose 20x / strict ordering
    assert(tokenCands < exhaustive / 2,
      s"token index must prune the exhaustive join: $tokenCands vs $exhaustive")
    assert(tokenCands <= matches * 20,
      s"candidates must stay match-proportional: $tokenCands cands for " +
        s"$matches matches")
  }

  test("raising the match threshold only ever shrinks the pair set " +
      "(monotone decision boundary)") {
    def pairs(t: Double) = EntityResolution
      .tokenBlockedPairs(part, "p_partkey", "p_name", "p_brand", t)
      .select("pk_a", "pk_b")
    val loose = pairs(0.85)
    val strict = pairs(0.95)
    assert(strict.exceptAll(loose).isEmpty,
      "every strict match must also be a loose match")
    assert(strict.count() < loose.count())
  }

  test("Fellegi-Sunter matches require name agreement plus two " +
      "corroborating features (the weight structure's decision boundary)") {
    val full = spark.read.parquet(s"${TestSpark.sf0001}/part.parquet")
    val m = EntityResolution.fellegiSunterMatches(full, "p_partkey",
      "p_name", "p_brand", "p_size", "p_type", "p_retailprice")
    val rows = m.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("jw") >= 0.9,
        "no weight mix can rescue a disagreeing name")
      assert(r.getAs[Int]("f_size") + r.getAs[Int]("f_cat") +
        r.getAs[Int]("f_price") >= 2,
        "threshold 6.0 demands two corroborators beyond the name")
    }
    // and the scored pair set is distinct
    assert(m.select("pk_a", "pk_b").distinct().count() === rows.length)
  }

  test("review queue: possible band only, per-block quota with " +
      "contiguous stable ranks, best scores first") {
    val full = spark.read.parquet(s"${TestSpark.sf0001}/part.parquet")
    val q = EntityResolution.reviewQueue(full, "p_partkey", "p_name",
      "p_brand", "p_size", "p_type", "p_retailprice", quotaPerBlock = 3)
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val score = r.getAs[Double]("fs_score")
      assert(score >= 0.0 && score < 6.0, "queue is the possible band")
      assert(r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 3)
    }
    val byBlock = rows.groupBy(_.getAs[String]("block"))
    byBlock.foreach { case (b, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ===
        (1 to rs.length).toSeq, s"ranks in $b must be contiguous from 1")
      val scores = sorted.map(_.getAs[Double]("fs_score")).toSeq
      assert(scores === scores.sortBy(-_),
        s"block $b must surface best scores first")
    }
    // a tighter quota is a strict prefix of a looser one
    val q5 = EntityResolution.reviewQueue(full, "p_partkey", "p_name",
      "p_brand", "p_size", "p_type", "p_retailprice", quotaPerBlock = 5)
    assert(q.exceptAll(q5).count() === 0)
  }

  test("tf adjustment: rare shared token rescues a borderline pair, " +
      "common token doesn't; adjusted decision contains er2's") {
    val spark2 = spark; import spark2.implicits._
    // n=16 records. Pair (1,2): shares only rare "zyx" (df 2), name
    // agrees (jw .9259), size agrees only -> fs 35; adj =
    // floor(ln(16/2)/ln(2)*10) = 30 -> 65 crosses the threshold.
    // Pair (3,4): same shape but shares "common" (df 14) -> adj 1 -> 36.
    val recs = (Seq(
      (1L, "zyx alpha", "B1", 10, "t1", 100.0),
      (2L, "zyx alphb", "B1", 11, "t2", 300.0),
      (3L, "common c3", "B2", 10, "t1", 100.0),
      (4L, "common c4", "B2", 11, "t2", 300.0)
    ) ++ (5L to 16L).map(i =>
      (i, s"common p$i", s"PAD$i", 50, "tp", 900.0)))
      .toDF("k", "name", "brand", "size", "cat", "price")
    val r = EntityResolution.tfAdjustedMatches(recs, "k", "name", "brand",
        "size", "cat", "price")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4, x._5))).toMap
    // same ln-ratio arithmetic the engine floors (bit-for-bit replica —
    // whichever side of the exact log2 the double ratio lands on)
    val expAdj = math.floor(
      math.log(16.0 / 2.0) / math.log(2.0) * 10).toLong
    assert(r === Map((1L, 2L) -> ((2L, 35L, 35L + expAdj))),
      s"only the rare-token pair crosses: $r")
    // monotonicity on the real fixture: every er2 match survives (the
    // adjustment is non-negative)
    val full = spark.read.parquet(s"${TestSpark.sf0001}/part.parquet")
    val er2 = EntityResolution.fellegiSunterMatches(full, "p_partkey",
      "p_name", "p_brand", "p_size", "p_type", "p_retailprice")
      .select("pk_a", "pk_b")
    val er11 = EntityResolution.tfAdjustedMatches(full, "p_partkey",
      "p_name", "p_brand", "p_size", "p_type", "p_retailprice")
      .select("pk_a", "pk_b")
    assert(er2.exceptAll(er11).count() === 0)
  }

  test("incremental linkage: matched batch records adopt an existing " +
      "entity, unmatched ones found their own, corpus never re-pairs") {
    val corpus = part.filter(col("p_partkey") % 10 =!= 0)
    val batch = part.filter(col("p_partkey") % 10 === 0)
    val corpusEnt = EntityResolution.resolveEntities(corpus, "p_partkey",
      "p_name", "p_brand", 0.9)
    val linked = EntityResolution.linkIncrement(corpus, corpusEnt, batch,
      "p_partkey", "p_name", "p_brand", 0.9).collect()
    assert(linked.length === batch.count())
    val corpusEntityIds = corpusEnt.select("entity_id")
      .collect().map(_.getLong(0)).toSet
    linked.foreach { r =>
      val (key, ent, isNew) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      if (isNew) assert(ent === key, "new entities found under own key")
      else assert(corpusEntityIds.contains(ent),
        "matched records must adopt an EXISTING corpus entity id")
    }
    assert(linked.exists(!_.getBoolean(2)), "fixture has cross-batch dups")
    assert(linked.exists(_.getBoolean(2)), "fixture has novel records")
  }

  test("golden records: one per entity, canonical name is a member value, " +
      "member counts partition the input") {
    val full = spark.read.parquet(s"${TestSpark.sf0001}/part.parquet")
      .select("p_partkey", "p_name", "p_brand", "p_size")
    val g = EntityResolution.goldenRecords(full, "p_partkey", "p_name",
      "p_brand", "p_size", threshold = 0.9)
    val rows = g.collect()
    assert(rows.map(_.getAs[Long]("entity_id")).distinct.length
      === rows.length)
    assert(rows.map(_.getAs[Long]("n_members")).sum === full.count())
    // the canonical name really occurs among the entity's members
    val ent = EntityResolution.resolveEntities(full.select("p_partkey",
        "p_name", "p_brand"), "p_partkey", "p_name", "p_brand", 0.9)
      .select("p_partkey", "entity_id")
    val memberNames = full.join(ent, "p_partkey")
      .select("entity_id", "p_name").distinct()
    val bad = g.join(memberNames,
      g("entity_id") === memberNames("entity_id") &&
        g("canon_name") === memberNames("p_name"), "left_anti")
    assert(bad.isEmpty, "canon_name must be one of the member names")
    assert(rows.forall(r =>
      r.getAs[Int]("min_size") <= r.getAs[Int]("max_size")))
  }

  test("EM weight refresh: hand-computed m/u ppm and deci-weights on a " +
      "known candidate set") {
    import spark.implicits._
    // (1,2): exact dup -> match, all features agree. (1,3)/(2,3): share
    // token 'alpha', jw 0.8672 < 0.9, every feature disagrees -> non-match.
    // n_m=1, n_u=2; per feature am=1, au=0:
    //   m_ppm = 2e6 div 3 = 666666     u_ppm = 1e6 div 4 = 250000
    //   w_agree  = floor(log2((2*4)/(3*1))*10)  = floor(14.15)  = 14
    //   w_disagree = floor(log2((1*4)/(3*3))*10) = floor(-11.69) = -12
    val recs = Seq(
      (1L, "alpha beta", "B1", 10, "T1", 100.0),
      (2L, "alpha beta", "B1", 10, "T1", 100.0),
      (3L, "alpha gamma", "B1", 50, "T2", 500.0)
    ).toDF("pk", "name", "brand", "size", "cat", "price")
    val w = EntityResolution.fellegiSunterEmWeights(recs, "pk", "name",
        "brand", "size", "cat", "price")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(w.keySet === Set("name", "size", "cat", "price"))
    w.values.foreach { v =>
      assert(v === ((666666L, 250000L, 14L, -12L)), s"got $v")
    }
  }

  test("EM weight refresh on the fixture: weights are sign-consistent " +
      "with the learned rates, and the name feature discriminates") {
    val full = spark.read.parquet(s"${TestSpark.sf0001}/part.parquet")
    val w = EntityResolution.fellegiSunterEmWeights(full, "p_partkey",
      "p_name", "p_brand", "p_size", "p_type", "p_retailprice").collect()
    assert(w.length === 4)
    w.foreach { r =>
      val (m, u) = (r.getAs[Long]("m_ppm"), r.getAs[Long]("u_ppm"))
      // weight sign must follow the learned rate ordering — this is what
      // EM is FOR: on this fixture price agreement is near-universal among
      // non-match candidates (TPC-H prices cluster), so its refreshed
      // agreement weight correctly goes NEGATIVE instead of the er2 prior
      if (m > u) assert(r.getAs[Long]("w_agree_deci") >= 0,
        s"${r.getString(0)}: m>u must not yield a negative agreement weight")
      if (m < u) assert(r.getAs[Long]("w_agree_deci") <= 0,
        s"${r.getString(0)}: m<u must not yield a positive agreement weight")
      assert(m >= 0 && m <= 1000000L && u >= 0 && u <= 1000000L)
    }
    val name = w.find(_.getString(0) == "name").get
    assert(name.getAs[Long]("m_ppm") > name.getAs[Long]("u_ppm") &&
      name.getAs[Long]("w_agree_deci") > 0 &&
      name.getAs[Long]("w_disagree_deci") < 0,
      "the class-defining feature must discriminate")
  }

  test("iterated EM: step 1 equals the one-shot refresh, the boundary " +
      "actually moves between steps, and the trajectory re-converges") {
    import spark.implicits._
    val recs = Seq(
      (1L, "alpha beta", "B1", 10, "T1", 100.0),
      (2L, "alpha beta", "B1", 10, "T1", 100.0),
      (3L, "alpha gamma", "B1", 50, "T2", 500.0)
    ).toDF("pk", "name", "brand", "size", "cat", "price")
    val traj = EntityResolution.fellegiSunterEmIterated(recs, "pk", "name",
        "brand", "size", "cat", "price", steps = 3)
      .as[(Int, String, Long, Long, Long, Long, Long)].collect()
    assert(traj.length === 12)
    // step 1 must be exactly er6's one-shot refresh (same seed rule)
    val step1 = traj.filter(_._1 == 1)
      .map(r => r._2 -> ((r._3, r._4, r._5, r._6))).toMap
    val oneShot = EntityResolution.fellegiSunterEmWeights(recs, "pk",
        "name", "brand", "size", "cat", "price")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(step1 === oneShot)
    // on this separable fixture the refreshed-weight rule keeps the same
    // assignment (n_m = 1 every step): EM has converged, weights stable
    assert(traj.map(_._7).toSet === Set(1L), traj.map(_._7).toSeq.toString)
    val byStep = traj.groupBy(_._1).view.mapValues(
      _.map(r => r._2 -> ((r._5, r._6))).toMap).toMap
    assert(byStep(2) === byStep(3), "converged trajectory must be stable")
    // part fixture: the er6 sign-inversion on price means the refreshed
    // rule reclassifies — n_m must CHANGE after step 1 (the boundary
    // moved), which a fixed-rule re-estimate can never show
    val full = spark.read.parquet(s"${TestSpark.sf0001}/part.parquet")
    val pt = EntityResolution.fellegiSunterEmIterated(full, "p_partkey",
        "p_name", "p_brand", "p_size", "p_type", "p_retailprice", steps = 3)
      .as[(Int, String, Long, Long, Long, Long, Long)].collect()
    val nmByStep = pt.groupBy(_._1).view.mapValues(_.head._7).toMap
    assert(nmByStep(2) !== nmByStep(1),
      s"refreshed weights must move the decision boundary: $nmByStep")
    assertThrows[IllegalArgumentException] {
      EntityResolution.fellegiSunterEmIterated(recs, "pk", "name",
        "brand", "size", "cat", "price", steps = 0)
    }
  }

  test("blocking stays match-proportional as the corpus grows 10x " +
      "(verify-ratio drift < 2x from sf0.001 to sf0.01)") {
    // the round-6 claim (~11x candidates per match, scale-invariant) as a
    // standing gate: a future blocking-key change that re-quadratics the
    // generator fails here instead of silently shipping
    def ratio(dir: String): Double = {
      val p = spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      val tk = p.select(col("p_partkey").as("pk"), col("p_brand"),
        explode(split(col("p_name"), " ")).as("tok"))
      val cands = tk.as("a").join(tk.as("b"), Seq("p_brand", "tok"))
        .filter(col("a.pk") < col("b.pk")).count()
      val matches = EntityResolution
        .tokenBlockedPairs(p, "p_partkey", "p_name", "p_brand", 0.9)
        .count()
      cands.toDouble / math.max(matches, 1L)
    }
    val small = ratio(TestSpark.sf0001)
    val big = ratio("/root/testdata/sf0.01")
    val drift = big / small
    assert(drift < 2.0 && drift > 0.5,
      s"verify ratio must be scale-invariant: sf0.001=$small sf0.01=$big")
  }

  test("blocking quality pins RR/PC ppm on a hand-computed block layout") {
    import spark.implicits._
    // block b1 holds 4 records -> 6 exhaustive pairs; b2 is a singleton.
    // Token blocking generates exactly ONE candidate, (1,3) via the
    // shared token "abcde". True matches (exhaustive JW >= 0.9): (1,2)
    // at jw 0.9666 — MISSED by blocking (no shared whole token: "abcde"
    // vs "abcdef") — and (1,3) at jw 0.9250, found. So RR = 5/6 and
    // PC = 1/2, in floored ppm.
    val rec = Seq(
      (1L, "abcde", "b1"), (2L, "abcdef", "b1"),
      (3L, "abcde xx", "b1"), (4L, "zzzz yy", "b1"),
      (5L, "qq", "b2")
    ).toDF("pk", "name", "block")
    val r = EntityResolution
      .blockingQuality(rec, "pk", "name", "block", threshold = 0.9,
        sampleHexCut = "zz") // above every hex digram: full fixture
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(r.toSeq === Seq((6L, 1L, 2L, 1L, 833333L, 500000L)),
      s"(n_exhaustive, n_candidates, n_true, n_found, rr_ppm, pc_ppm): " +
        s"${r.toSeq}")
  }

  test("phonetic token blocking rescues typo pairs exact tokens miss (er13)") {
    import spark.implicits._
    // "smith" vs "smyth": NO shared exact token, so er7-style blocking
    // generates zero candidates and PC = 0 — but both soundex to S530,
    // so the phonetic index finds the pair (jw 0.8933 >= 0.85).
    // 3 records in one block -> 3 exhaustive pairs, 1 true match.
    val rec = Seq((1L, "smith", "b1"), (2L, "smyth", "b1"),
      (3L, "zzzz", "b1")).toDF("pk", "name", "block")
    val exact = EntityResolution
      .blockingQuality(rec, "pk", "name", "block", 0.85, "zz")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(exact === ((3L, 0L, 1L, 0L, 1000000L, 0L)))
    val phonetic = EntityResolution
      .blockingQuality(rec, "pk", "name", "block", 0.85, "zz",
        tokenKey = org.apache.spark.sql.functions.soundex)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    // one candidate (the S530 bucket), found as a match: PC 0 -> 1e6,
    // RR 1e6 -> 2/3 — the documented phonetic trade
    assert(phonetic === ((3L, 1L, 1L, 1L, 666666L, 1000000L)))
  }

  test("blocking quality zero-denominator convention and mandatory sample") {
    import spark.implicits._
    // all-dissimilar corpus: one exhaustive pair, zero candidates, zero
    // true matches -> rr_ppm 1000000, pc_ppm 0 (never NULL / never throws)
    val rec = Seq((1L, "aa bb", "b1"), (2L, "cc dd", "b1"))
      .toDF("pk", "name", "block")
    val r = EntityResolution
      .blockingQuality(rec, "pk", "name", "block", 0.9, "zz")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(r.toSeq === Seq((1L, 0L, 0L, 0L, 1000000L, 0L)))
    // the quadratic denominator is sample-only by construction
    assertThrows[IllegalArgumentException] {
      EntityResolution.blockingQuality(rec, "pk", "name", "block", 0.9, "")
    }
    // a real cut deterministically shrinks the evaluated record set
    val full = EntityResolution
      .blockingQuality(part, "p_partkey", "p_name", "p_brand", 0.9, "zz")
      .select("n_exhaustive").as[Long].head()
    val half = EntityResolution
      .blockingQuality(part, "p_partkey", "p_name", "p_brand", 0.9, "80")
      .select("n_exhaustive").as[Long].head()
    assert(half > 0L && half < full)
  }

  test("cluster audit: pair stats match independently-derived truth, " +
      "weak flags the closure-overreach cluster, size cap excludes") {
    import spark.implicits._
    val rec = Seq(
      (1L, "ring abcdex", "B"), (2L, "ring abcdey", "B"),
      (3L, "ring abcdeyzz", "B"),
      (10L, "zzz qqq", "B"), (11L, "solo name", "C")
    ).toDF("pk", "name", "block")
    // independent truth: engine JW on ALL within-block pairs + local
    // union-find over the >= 0.9 edges (never clusterAudit's own path)
    val jw = rec.as("a").join(rec.as("b"),
        col("a.block") === col("b.block") && col("a.pk") < col("b.pk"))
      .select(col("a.pk"), col("b.pk"),
        floor(graft.functions.TextFunctions.jaroWinkler(
          col("a.name"), col("b.name")) * 10000.0).cast("long"))
      .as[(Long, Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    jw.filter(_._3 >= 9000L).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val members = Seq(1L, 2L, 3L, 10L, 11L).groupBy(find)
      .filter(_._2.size >= 2)
    val jwMap = jw.map(p => (p._1, p._2) -> p._3).toMap
    val want = members.map { case (root, ms) =>
      val pairs = for (a <- ms; b <- ms if a < b) yield jwMap((a, b))
      root -> ((ms.size.toLong, pairs.size.toLong, pairs.min,
        pairs.sum / pairs.size, pairs.min < 9000L))
    }
    val got = EntityResolution
      .clusterAudit(rec, "pk", "name", "block", 0.9)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6))).toMap
    assert(got === want, s"got $got\nwant $want")
    // the fixture must actually exercise a multi-member cluster
    assert(want.nonEmpty && want.values.exists(_._1 >= 3L),
      s"fixture lost its chain cluster: $want")
    // size cap: with maxAuditSize = 2 every size-3+ cluster disappears
    val capped = EntityResolution
      .clusterAudit(rec, "pk", "name", "block", 0.9, maxAuditSize = 2)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    assert(capped.forall(_._2 == 2L))
  }

  test("entity resolution assigns min-member canonical ids with sizes") {
    val ent = EntityResolution
      .resolveEntities(part, "p_partkey", "p_name", "p_brand", 0.9)
    assert(ent.count() === part.count()) // every record resolved
    // entity_id is a member of its own cluster and is the minimum member
    val bad = ent.groupBy("entity_id")
      .agg(min("p_partkey").as("mn"), count(lit(1)).as("n"))
      .filter(col("mn") =!= col("entity_id"))
    assert(bad.isEmpty, "entity_id must be the minimum member key")
    // sizes consistent
    val szBad = ent.groupBy("entity_id", "entity_size")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") =!= col("entity_size"))
    assert(szBad.isEmpty, "entity_size must equal the member count")
  }

  test("matcherAgreement: hand-computed 2x2 and kappa") {
    import spark.implicits._
    // four candidate pairs, one per block:
    //  B1, B4: identical names + identical features -> both match (n11=2)
    //  B2: identical names, every feature off -> fs -5 < 60, jw 1 (n01=1)
    //  B3: shared token, jw < 0.9, features agree -> fs 19 < 60 (n00=1)
    // po = 3e6 div 4 = 750000; pe = (2*3 + 2*1)*1e6 div 16 = 500000;
    // kappa = 250000 * 1e6 div 500000 = 500000
    val recs = Seq(
      (1L, "alpha beta", "B1", 5, "T", 10.0),
      (2L, "alpha beta", "B1", 5, "T", 10.0),
      (3L, "gamma delta", "B2", 5, "T", 10.0),
      (4L, "gamma delta", "B2", 9, "U", 100.0),
      (5L, "echo foxtrot one", "B3", 5, "T", 10.0),
      (6L, "echo zulu nine", "B3", 5, "T", 10.0),
      (7L, "kilo lima", "B4", 3, "S", 20.0),
      (8L, "kilo lima", "B4", 3, "S", 20.0)
    ).toDF("k", "name", "block", "size", "cat", "price")
    // guard the jw < 0.9 assumption the n00 cell rests on
    val jwB3 = Seq(("echo foxtrot one", "echo zulu nine")).toDF("a", "b")
      .select(graft.functions.TextFunctions
        .jaroWinkler(col("a"), col("b")).as("jw"))
      .as[Double].head()
    assert(jwB3 < 0.9, s"fixture assumption broken: jw(B3) = $jwB3")
    val r = EntityResolution.matcherAgreement(recs, "k", "name", "block",
        "size", "cat", "price")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(r === ((4L, 2L, 0L, 1L, 1L, 750000L, 500000L, 500000L)))
  }

  test("scored-candidate memo is LRU-bounded: a long-lived session " +
      "scoring many distinct configs keeps no frame past the shared " +
      "store's bound") {
    import spark.implicits._
    val recs = Seq(
      (1L, "alpha widget", "B1", 5, "T", 10.0),
      (2L, "alpha widgets", "B1", 6, "T", 12.0),
      (3L, "beta gadget", "B1", 5, "U", 30.0),
      (4L, "gamma thing", "B2", 7, "U", 44.0)
    ).toDF("k", "name", "block", "size", "cat", "price")
    val base = spark.sparkContext.getPersistentRDDs.size
    // 12 distinct param keys -> 12 memo builds, then as many newer
    // entries as the store holds: the LRU must have released every one
    for (tol <- 1 to 12) {
      EntityResolution.fellegiSunterMatches(recs, "k", "name", "block",
        "size", "cat", "price", sizeTol = tol, priceTol = 50.0).count()
    }
    assert(spark.sparkContext.getPersistentRDDs.size > base,
      "the scored frames are persisted while their entries live")
    for (i <- 1 to graft.operators.Memo.MaxEntries)
      graft.operators.Memo.store.memo[String](("s", "newer", i.toString),
        Map.empty, _ => ())("v")
    val grown = spark.sparkContext.getPersistentRDDs.size - base
    assert(grown <= 0,
      s"memo must evict beyond its LRU bound; registry grew by $grown")
  }
}
