package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.range(10000).selectExpr(
    "id AS doc_id",
    "CASE WHEN id % 5 = 0 THEN 'en' WHEN id % 5 = 1 THEN 'de' ELSE 'fr' END AS lang")

  test("hashSample is deterministic, key-stable, and close to the target fraction") {
    val s1 = Sampling.hashSample(corpus.toDF(), 10).select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(corpus.toDF(), 10).select("doc_id").as[Long].collect().toSet
    assert(s1 == s2) // pure function of the key
    assert(math.abs(s1.size - 1000) < 150, s"got ${s1.size} of 10000 at 10%")
    // consistent subset: a 5% sample is contained in the 10% sample
    val s5 = Sampling.hashSample(corpus.toDF(), 5).select("doc_id").as[Long].collect().toSet
    assert(s5.subsetOf(s1))
    // growing the corpus never flips membership of existing keys
    val sHalf = Sampling.hashSample(corpus.where($"doc_id" < 5000).toDF(), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(sHalf == s1.filter(_ < 5000))
  }

  test("stratifiedSample applies per-stratum fractions with a default") {
    val out = Sampling.stratifiedSample(corpus.toDF(), "lang",
      Map("en" -> 50, "de" -> 0), defaultPct = 10)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("de")) // 0% stratum fully dropped
    assert(math.abs(byLang("en") - 1000) < 150, s"en=${byLang("en")} of 2000 at 50%")
    assert(math.abs(byLang("fr") - 600) < 120, s"fr=${byLang("fr")} of 6000 at 10%")
    // stratified membership agrees with plain hashSample at the same pct
    val en50 = Sampling.hashSample(corpus.where($"lang" === "en").toDF(), 50)
      .select("doc_id").as[Long].collect().toSet
    val enStrat = out.where($"lang" === "en").select("doc_id").as[Long].collect().toSet
    assert(enStrat == en50)
  }

  test("packDocs shards by running token total per part, overflow bounded by one doc") {
    // part a: token counts 3,4,5 with budget 6 -> cum_excl 0,3,7 -> shards 0,0,1
    val d = Seq(
      (0L, "a b c", "s1"), (1L, "d e f g", "s1"), (2L, "h i j k l", "s1"),
      (3L, "x y", "s2")
    ).toDF("doc_id", "text", "source")
    val r = Packing.packDocs(d, budgetTokens = 6).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3))).toSeq
    assert(r == Seq((0L, "s1", 3L, 0L), (1L, "s1", 4L, 0L), (2L, "s1", 5L, 1L),
      (3L, "s2", 2L, 0L)))
    // determinism: a second evaluation produces identical shards
    val r2 = Packing.packDocs(d, budgetTokens = 6).collect()
      .map(x => (x.getLong(0), x.getLong(3))).toSeq
    assert(r2 == r.map(x => (x._1, x._4)))
  }

  test("packDocs plan has no single-partition global window") {
    val d = Seq((0L, "a b", "s1")).toDF("doc_id", "text", "source")
    val plan = Packing.packDocs(d).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("sampling is map-only: no exchange in the plan") {
    val df = Sampling.hashSample(corpus.toDF(), 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("budgetSample invariants: per-group budget bound and best-doc admission") {
    // real corpus slice: whatever the scores are, the EXCLUSIVE cumulative
    // token count of every kept doc stays under budget, and each group's
    // single best doc (quality desc, doc_id asc) is always admitted
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = Sampling.budgetSample(docs, "source", budgetTokens = 300)
      .select("source", "doc_id", "quality_score", "n_tokens", "cum_excl")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(kept.nonEmpty)
    assert(kept.forall(_._5 < 300), "a kept doc's exclusive cumulative sum crossed the budget")
    val bestPerGroup = graft.llm.TextAnalysis
      .qualityScore(docs, keepCols = Seq("source"))
      .select("source", "doc_id", "quality_score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (g, rows) =>
        g -> rows.minBy(r => (-r._3, r._2))._2 }
    bestPerGroup.foreach { case (g, best) =>
      assert(kept.exists(k => k._1 == g && k._2 == best),
        s"group $g's best doc $best was not admitted (cum_excl 0 must always pass)")
    }
  }

  test("weightedSample: weight 1 keeps, 0 drops, fractional = hashSample membership") {
    val df = corpus.toDF().withColumn("w",
      when($"doc_id" % 2 === 0, lit(1.0)).otherwise(lit(0.0)))
    val r = Sampling.weightedSample(df, "w").select("doc_id").as[Long].collect().toSet
    assert(r == (0L until 10000L).filter(_ % 2 == 0).toSet)
    val half = Sampling.weightedSample(corpus.toDF().withColumn("w", lit(0.5)), "w")
      .select("doc_id").as[Long].collect().toSet
    val hs = Sampling.hashSample(corpus.toDF(), 50).select("doc_id").as[Long].collect().toSet
    assert(half == hs)
  }

  test("budgetSample: greedy quality-ordered prefix per group (hand-computed)") {
    // d1/d3 score 1.0 with 7 tokens each; d2 scores 0.3 — budget 14 admits
    // d1 (cum 0) and d3 (cum 7), then d2 hits cum_excl 14 and is cut;
    // s2's budget is independent
    val docs = Seq(
      (1L, "the quick brown fox jumps over dog", "s1"),
      (2L, "a b", "s1"),
      (3L, "the quick brown fox jumps over cat", "s1"),
      (4L, "the quick brown fox jumps over owl", "s2")
    ).toDF("doc_id", "text", "source")
    val r = Sampling.budgetSample(docs, "source", budgetTokens = 14)
      .select("source", "doc_id", "cum_excl").as[(String, Long, Long)].collect().toSeq
    assert(r == Seq(("s1", 1L, 0L), ("s1", 3L, 7L), ("s2", 4L, 0L)))
    // no global sort: the selection window partitions by source
    val plan = Sampling.budgetSample(docs, "source", 14)
      .queryExecution.executedPlan.toString
    assert(!plan.split("== Initial Plan ==")(0).contains("SinglePartition"), plan)
  }
  test("targetMix: surplus strata downsample to quota, short strata keep all, unlisted drop") {
    val docs = ((0L until 40L).map(i => (i, "en")) ++
                (40L until 42L).map(i => (i, "de")) ++
                (42L until 50L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    // budget 16: en quota 8 of 40 -> rate 0.2; de quota 4.8 of 2 -> rate 1
    val r = Sampling.targetMix(docs, "lang", Map("en" -> 0.5, "de" -> 0.3), totalDocs = 16)
      .select("doc_id", "lang").as[(Long, String)].collect().toSeq.sortBy(_._1)
    def knuth(id: Long) = ((id * 2654435761L) % 4294967296L) % 10000L
    val expectedEn = (0L until 40L).filter(id => knuth(id) < 2000L)
    assert(r.filter(_._2 == "en").map(_._1) == expectedEn)
    assert(r.filter(_._2 == "de").map(_._1) == Seq(40L, 41L)) // rate clamps to 1
    assert(!r.exists(_._2 == "fr"))                            // unlisted stratum drops
  }

  test("lengthBuckets: power-of-two buckets, floor 16, exact padding accounting") {
    def doc(id: Long, n: Int) = (id, Seq.fill(n)("w").mkString(" "))
    val d = Seq(doc(0, 5), doc(1, 16), doc(2, 17), doc(3, 100)).toDF("doc_id", "text")
    val r = Packing.lengthBuckets(d).as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq(
      (16L, 2L, 21L, 32L, 1.0 - 21.0 / 32.0),
      (32L, 1L, 17L, 32L, 1.0 - 17.0 / 32.0),
      (128L, 1L, 100L, 128L, 1.0 - 100.0 / 128.0)))
  }

  test("assignSplits: disjoint-and-exhaustive, train matches hashSample(80) membership") {
    val docs = (0L until 1000L).toDF("doc_id")
    val r = Sampling.assignSplits(docs, Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(r.size == 1000 && r.values.toSet == Set("train", "val", "test"))
    val trainIds = r.filter(_._2 == "train").keySet
    val hashKeep = Sampling.hashSample(docs, 80).as[Long].collect().toSet
    assert(trainIds == hashKeep) // key-stable: same keep test, same membership
    def knuth(id: Long) = ((id * 2654435761L) % 4294967296L) % 100L
    assert(r.forall { case (id, s) =>
      s == (if (knuth(id) < 80) "train" else if (knuth(id) < 90) "val" else "test") })
  }

  test("assignSplitsBy: whole groups move together, rep = min id, growth-stable") {
    val docs = ((0L until 40L).map(i => (i, s"s${i % 7}"))).toDF("doc_id", "source")
    val r = Sampling.assignSplitsBy(docs,
        Seq("train" -> 80, "val" -> 10, "test" -> 10), "source")
      .select("doc_id", "source", "split")
      .as[(Long, String, String)].collect()
    assert(r.length == 40)
    // one split per source — the leakage-safety contract
    val perSource = r.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
    assert(perSource.values.forall(_.size == 1))
    // the split is the plain assignSplits verdict on the group's min doc_id
    def knuth(id: Long) = ((id * 2654435761L) % 4294967296L) % 100L
    (0 until 7).foreach { g =>
      val minId = (0L until 40L).filter(_ % 7 == g).min
      val expect =
        if (knuth(minId) < 80) "train" else if (knuth(minId) < 90) "val" else "test"
      assert(perSource(s"s$g") == Set(expect), s"source s$g")
    }
    // growth-stable: new docs in an existing group inherit its split; the
    // min-id rep only changes if a SMALLER id appears (append-only ids don't)
    val more = docs.union(Seq((1000L, "s3")).toDF("doc_id", "source"))
    val r2 = Sampling.assignSplitsBy(more,
        Seq("train" -> 80, "val" -> 10, "test" -> 10), "source")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(r2(1000L) == perSource("s3").head)
    r.foreach { case (id, _, s) => assert(r2(id) == s) }
    // null group keys: kept (never dropped), and they move as ONE group
    val withNull = docs.union(
      Seq((500L, null), (501L, null)).map { case (i, g) => (i, g: String) }
        .toDF("doc_id", "source"))
    val r3 = Sampling.assignSplitsBy(withNull,
        Seq("train" -> 80, "val" -> 10, "test" -> 10), "source")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(r3.size == 42)
    assert(r3(500L) == r3(501L))
  }

  test("temperatureMix: sqrt shares flatten skew toward the budget, key-stable") {
    // skewed corpus: 160 "en", 40 "de", 10 "fr"
    val docs = ((0 until 160).map(i => (i.toLong, "en")) ++
      (200 until 240).map(i => (i.toLong, "de")) ++
      (300 until 310).map(i => (i.toLong, "fr"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureMix(docs, "lang", totalDocs = 100)
      .as[(Long, String)].collect()
    val by = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // shares ∝ sqrt(cnt): en 12.65, de 6.32, fr 3.16 (tot 22.1) →
    // expected keeps ≈ 57, 28, 14 — temperature flattens 16:4:1 to ~4:2:1
    val expShare = Map("en" -> math.sqrt(160.0), "de" -> math.sqrt(40.0), "fr" -> math.sqrt(10.0))
    val tot = expShare.toSeq.sortBy(_._1).map(_._2).sum
    expShare.foreach { case (lang, sq) =>
      val cnt = Map("en" -> 160, "de" -> 40, "fr" -> 10)(lang)
      val rate = math.min(1.0, sq / tot * 100 / cnt)
      // hash keep test is near-uniform: observed within ±12 of expectation
      assert(math.abs(by(lang) - rate * cnt) <= 12, s"$lang: ${by(lang)} vs ${rate * cnt}")
    }
    // deterministic + key-stable: same membership on re-run
    val again = Sampling.temperatureMix(docs, "lang", 100).as[(Long, String)].collect()
    assert(again.toSet == kept.toSet)
  }

  test("hashTopKPerGroup: k rows per group by hash rank, key-stable membership") {
    val docs = (0L until 40L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val r = Sampling.hashTopKPerGroup(docs, "source", k = 3)
      .as[(Long, String)].collect()
    assert(r.length == 6 && r.count(_._2 == "a") == 3)
    // matches the hash-order ground truth computed directly
    def h(id: Long) = (id * 2654435761L) % 4294967296L
    val expA = (0L until 40L by 2).sortBy(i => (h(i), i)).take(3).toSet
    assert(r.filter(_._2 == "a").map(_._1).toSet == expA)
    // key-stable: adding rows to group b never changes group a's sample
    val more = docs.union(Seq((100L, "b"), (101L, "b")).toDF("doc_id", "source"))
    val r2 = Sampling.hashTopKPerGroup(more, "source", k = 3)
      .as[(Long, String)].collect()
    assert(r2.filter(_._2 == "a").map(_._1).toSet == expA)
    // smaller groups than k keep everything
    val tiny = Seq((1L, "x")).toDF("doc_id", "source")
    assert(Sampling.hashTopKPerGroup(tiny, "source", 5).count() == 1L)
  }

  test("weightedTopK (A-ES): exact k, weight-monotone inclusion odds, " +
    "deterministic, zero-weight exclusion") {
    import org.apache.spark.sql.functions._
    // 1000 rows, half weight 0.9 and half weight 0.1: the heavy stratum
    // must dominate a k=100 sample (A-ES: P(select) grows with weight)
    val df = spark.range(1000)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, 0.9).otherwise(0.1).as("w"))
    val sel = Sampling.weightedTopK(df, "w", k = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(sel.size == 100) // exact k, without replacement
    val heavy = sel.count(_ % 2 == 0)
    assert(heavy > 70, s"heavy stratum got only $heavy/100 slots")
    // deterministic under repartition
    val sel2 = Sampling.weightedTopK(df.repartition(7), "w", k = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(sel2 == sel)
    // zero/negative weights never selected, even with k > candidates
    val z = Seq((1L, 1.0), (2L, 0.0), (3L, -1.0)).toDF("doc_id", "w")
    assert(Sampling.weightedTopK(z, "w", k = 10)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("knuth32 is overflow-safe over the FULL int64 key space and " +
    "bit-identical to the naive formula on small keys") {
    import org.apache.spark.sql.functions._
    // small keys: split multiply == naive (id * A) % 2^32 exactly
    val small = spark.range(0, 100000, 997)
      .select(col("id"), Sampling.knuth32(col("id")).as("h"))
      .as[(Long, Long)].collect()
    small.foreach { case (id, h) =>
      assert(h == (id * 2654435761L) % 4294967296L, s"id=$id")
    }
    // huge keys (naive form overflows int64 at ~3.47e9): BigInt ground
    // truth, result always in [0, 2^32), never negative, never throws
    val huge = Seq(3500000000L, 4294967295L, 1L << 40, Long.MaxValue,
      Long.MaxValue - 1, -1L, Long.MinValue + 1)
    val got = huge.toDF("doc_id")
      .select(col("doc_id"), Sampling.knuth32(col("doc_id")).as("h"))
      .as[(Long, Long)].collect().toMap
    huge.foreach { id =>
      val exp = ((BigInt(id).mod(BigInt(2).pow(32))) * BigInt(2654435761L))
        .mod(BigInt(2).pow(32)).toLong
      assert(got(id) == exp, s"id=$id got=${got(id)} exp=$exp")
      assert(got(id) >= 0 && got(id) < 4294967296L)
    }
  }

  test("weightedTopK never produces NaN keys at production id scales " +
    "(ADVICE r7: overflow wrapped negative -> u<=0 -> pow NaN -> " +
    "NaN ranked above every real key)") {
    import org.apache.spark.sql.functions._
    // ids straddling the old overflow threshold; under the old naive hash
    // the large-id half would all get NaN keys and crowd out every
    // small-id row in the sample — now both strata compete fairly
    val ids = (0L until 500L) ++ (0L until 500L).map(_ + 4000000000L)
    val df = ids.toDF("doc_id").select(col("doc_id"), lit(1.0).as("w"))
    val sel = Sampling.weightedTopK(df, "w", k = 200)
      .select("doc_id").as[Long].collect()
    assert(sel.length == 200)
    val largeIds = sel.count(_ >= 4000000000L)
    assert(largeIds > 20 && largeIds < 180,
      s"sample not mixed across id scales: $largeIds/200 large ids " +
        "(200/200 or 0/200 would mean one stratum's keys dominate degenerately)")
    // and hashSample stays within tolerance on huge ids (old knuthBucket
    // went negative -> always < pct -> 100% over-select)
    val hugeCorpus = spark.range(10000)
      .select((col("id") + 4000000000L).as("doc_id"))
    val s = Sampling.hashSample(hugeCorpus.toDF(), 10).count()
    assert(math.abs(s - 1000L) < 200, s"got $s of 10000 at 10% on huge ids")
  }
}
