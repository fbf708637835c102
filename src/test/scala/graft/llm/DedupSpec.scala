package graft.llm

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.functions.MinHashSig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

class DedupSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // docsMini (FIXTURES.md §B): 2 exact dups (1&2), 1 near-dup pair (0&3)
  private def docsMini = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "s1"),
    (1L, "pack my box with five dozen liquor jugs", "s1"),
    (2L, "pack my box with five dozen liquor jugs", "s2"),
    (3L, "the quick brown fox jumps over the lazy cat", "s2"),
    (4L, "completely different text about spark engines", "s1"),
    (5L, "short", "s2")
  ).toDF("doc_id", "text", "source")

  test("exactStats counts duplicates per source") {
    val r = Dedup.exactStats(docsMini).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(r == Seq(("s1", 3L, 3L, 0L), ("s2", 3L, 3L, 0L)))
  }

  test("dropExactDups keeps min doc_id per text group") {
    val kept = Dedup.dropExactDups(docsMini).select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 1L, 3L, 4L, 5L)) // doc 2 dropped (dup of 1)
  }

  test("dropExactDups: no shuffle exchange carries the text column") {
    val df = Dedup.dropExactDups(docsMini)
    df.collect() // finalize the adaptive plan
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.nonEmpty) // the winner agg does shuffle — slim rows only
    val textCarriers = shuffles.filter(_.output.exists(_.name == "text"))
    assert(textCarriers.isEmpty,
      s"text crossed an exchange:\n${textCarriers.mkString("\n")}")
  }

  test("ngramJaccardPairs maxBucket drops hot-shingle buckets, keeps normal pairs") {
    // 10 identical docs: every shingle bucket they form has size 10
    val hot = (0 until 10).map(i => (100L + i, "alpha beta gamma delta epsilon", "s"))
      .toDF("doc_id", "text", "source")
    val all = docsMini.union(hot)
    val uncapped = Dedup.ngramJaccardPairs(all, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(_._1 >= 100L) == 45) // all 10-choose-2 hot pairs
    val capped = Dedup.ngramJaccardPairs(all, threshold = 0.5, maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(_._1 >= 100L)) // size-10 buckets dropped by the cap
    assert(capped == uncapped.filter(_._1 < 100L)) // small buckets unaffected
  }

  test("oracle-tested SFs have no shingle bucket above the default maxBucket cap") {
    // dedup_containment/ngram_jaccard oracles (DuckDB) count EVERY shared
    // shingle with no cap, while the engine drops buckets > maxBucket=200.
    // The two agree iff the tested corpora have no hot shingle — assert
    // that here so a future testdata regen that introduces one fails
    // loudly instead of silently diverging from the oracle.
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf/documents.parquet"
      assume(new java.io.File(dir).exists())
      val docs = spark.read.parquet(dir)
      val hottest = Dedup.shingleDF(docs, "doc_id", "text", 3)
        .select(explode(col("sh")).as("h")).groupBy("h").count()
        .agg(max("count")).as[Long].head()
      assert(hottest <= 200L,
        s"$sf has a shingle shared by $hottest docs (> maxBucket=200): " +
          "capped engine output would diverge from the uncapped oracle")
    }
  }

  test("connectedComponents labels chains and separate components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents: reflexive-pair vertices keep their label row") {
    // (9,9) carries no edge but vertex 9 is still "in a pair" — it must
    // come out labeled with itself, not silently vanish
    val pairs = Seq((1L, 2L), (9L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
  }

  test("connectedComponents: one label row per vertex even at the iteration cap") {
    // maxIters=1 leaves a long path un-contracted; labels must still be
    // unique per vertex (stale is acceptable, conflicting rows are not)
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, _) = Dedup.ccWithRounds(path, maxIters = 1)
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == 64, s"expected 64 label rows, got ${got.length}")
    assert(got.map(_._1).distinct.length == 64, "conflicting labels for a vertex")
  }

  test("connectedComponents: 1000-node path converges in O(log n) rounds") {
    // the worst case for min-label propagation (diameter 999 → ~999
    // rounds); large-star/small-star must fold it in ≲ log2(1000) rounds
    val path = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.ccWithRounds(path, maxIters = 30)
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == 1000 && got.forall(_._2 == 0L),
      s"path graph not fully labeled to component min 0")
    val bound = math.ceil(math.log(1000.0) / math.log(2.0)).toInt + 1 // 11
    assert(rounds <= bound, s"took $rounds rounds (> $bound)")
  }

  test("connectedComponents: random graphs match a driver-side union-find (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    for (trial <- 0 until 3) {
      val n = 60
      val gen = Gen.listOfN(80, for {
        a <- Gen.chooseNum(0L, n - 1L); b <- Gen.chooseNum(0L, n - 1L)
      } yield (a, b))
      val raw = gen.apply(Gen.Parameters.default, Seed(7100L + trial)).get
      val pairs = raw.filter(p => p._1 != p._2)
      // reference: plain union-find on the driver
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> { // min id in the component via a second resolve pass
          val r = find(v.toInt)
          pairs.flatMap(p => Seq(p._1, p._2)).distinct
            .filter(u => find(u.toInt) == r).min
        }).toMap
      val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"trial $trial diverged")
    }
  }

  test("cleanCorpusCC collapses a whole component where greedy keeps two docs") {
    // star graph: 1~3 and 2~3 above threshold, 1!~2 below it. Words must be
    // purely alphabetic — the tokenizer drops digits, so "w1" would collapse
    // every word to "w".
    def words(from: Int, to: Int) =
      (from to to).map(i => s"w${('a' + i).toChar}${('a' + i).toChar}").mkString(" ")
    val docs = Seq(
      (1L, words(1, 10), "s"),
      (2L, words(5, 14), "s"),
      (3L, words(3, 12), "s")
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L), (2L, 3L))) // planted structure holds
    val greedy = Dedup.cleanCorpus(docs, threshold = 0.5).as[Long].collect().toSeq
    assert(greedy == Seq(1L, 2L)) // greedy drops only pair-highs: 3
    val cc = Dedup.cleanCorpusCC(docs, threshold = 0.5).as[Long].collect().toSeq
    assert(cc == Seq(1L)) // the component {1,2,3} keeps its min id only
  }

  test("cleanCorpus drops exact dups then near-dups, keeps the rest") {
    // doc 2 = exact dup of 1; docs 0~3 have Jaccard 6/8 = 0.75
    val kept = Dedup.cleanCorpus(docsMini, threshold = 0.7)
      .as[Long].collect().toSeq
    assert(kept == Seq(0L, 1L, 4L, 5L)) // 2 exact-dropped, 3 near-dropped
    val keptStrict = Dedup.cleanCorpus(docsMini, threshold = 0.8)
      .as[Long].collect().toSeq
    assert(keptStrict == Seq(0L, 1L, 3L, 4L, 5L)) // 0.75 < 0.8 -> 3 survives
  }

  test("cleanCorpusMinHash agrees with the exact variant on planted dups") {
    val exactKept = Dedup.cleanCorpus(docsMini, threshold = 0.7).as[Long].collect().toSeq
    val lshKept = Dedup.cleanCorpusMinHash(docsMini, threshold = 0.7).as[Long].collect().toSeq
    assert(lshKept == exactKept)
  }

  test("shingles: distinct 3-gram windows; short docs yield empty set") {
    val sh = docsMini.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect()
    assert(sh(0)._2.contains("the quick brown") && sh(0)._2.contains("the lazy dog"))
    assert(sh(0)._2.size == 7) // 9 tokens -> 7 windows, all distinct
    assert(sh(5)._2.isEmpty) // "short" has 1 token < w
  }

  test("ngramJaccardPairs finds the near-dup and exact-dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(docsMini, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((0L, 3L), (1L, 2L)))
    val j03 = pairs.find(p => p._1 == 0L).get._3
    assert(j03 == 6.0 / 8.0) // 7 shingles each, 6 shared
    assert(pairs.find(p => p._1 == 1L).get._3 == 1.0) // exact dup
  }

  test("minHashNearDup recovers the same pairs as exact Jaccard (recall on planted dups)") {
    val exact = Dedup.ngramJaccardPairs(docsMini, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minHashNearDup(docsMini, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh == exact) // verification step makes precision exact; recall on these sims ~1
  }

  test("minHash signature is deterministic and length-k") {
    def sig() = docsMini.where($"doc_id" === 0)
      .select(Dedup.minHashSignature(Dedup.shingleHashes(col("text")), k = 16).as("s"))
      .as[Seq[Long]].collect()(0)
    val s1 = sig()
    assert(s1.size == 16)
    assert(s1 == sig())
    // interpreted eval must agree with codegen (same expression, eval'd row)
    val hashes = docsMini.where($"doc_id" === 0)
      .select(Dedup.shingleHashes(col("text"))).as[Seq[Long]].collect()(0)
    val viaEval = graft.functions.MinHashSig(
      org.apache.spark.sql.catalyst.expressions.Literal.create(hashes,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)), 16, 42L)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(viaEval == s1)
  }

  test("simHash: identical texts -> identical hash; near-dups -> small hamming") {
    val sigs = docsMini.select($"doc_id", Dedup.simHash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val hd03 = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    val hd04 = java.lang.Long.bitCount(sigs(0L) ^ sigs(4L))
    assert(hd03 < hd04, s"near-dup hamming $hd03 should be < unrelated $hd04")
  }

  test("simHashNearDup finds exact dups at hamming 0") {
    val pairs = Dedup.simHashNearDup(docsMini, maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("decontaminate flags train docs sharing an n-gram with the eval set, counting distinct hits") {
    val eval = Seq((0L, "alpha beta gamma delta"), (1L, "one two three four")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "x alpha beta gamma delta y"),          // contains eval 4-gram once
      (11L, "one two three four one two three four"), // same eval 4-gram twice -> counts ONCE (distinct)
      (12L, "alpha beta gamma delta one two three four"), // two different eval 4-grams
      (13L, "totally clean document here")
    ).toDF("doc_id", "text")
    val r = Dedup.decontaminate(train, eval, n = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r == Seq((10L, 1L), (11L, 1L), (12L, 2L))) // 13 absent: clean
  }

  test("decontaminate broadcasts the eval n-gram set (no shuffle of the train side)") {
    val eval = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq((10L, "x alpha beta gamma delta y")).toDF("doc_id", "text")
    val plan = Dedup.decontaminate(train, eval, n = 4).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sourceOverlap counts distinct shared n-grams per source pair") {
    val docs = Seq(
      (1L, "x y z", "s1"), // bigrams: "x y", "y z"
      (2L, "x y q", "s2"), // shares "x y" with s1
      (3L, "y z k", "s3")  // shares "y z" with s1
    ).toDF("doc_id", "text", "source")
    val r = Dedup.sourceOverlap(docs, n = 2)
      .as[(String, String, Long)].collect().toSeq
    assert(r == Seq(("s1", "s2", 1L), ("s1", "s3", 1L)))
  }
  test("sourceOverlapTheta: exact-mode sketches reproduce the exact tier;" +
    " jaccard = inter/union") {
    // enough shared/unique bigrams to be non-trivial, far below the 2^12
    // sketch capacity — theta sketches are exact in this regime, so the
    // estimates must EQUAL the exact tier's counts
    val docs = Seq(
      (1L, "a b c d e f g h", "s1"),
      (2L, "a b c d x y z w", "s2"), // shares bigrams "a b","b c","c d" with s1
      (3L, "e f g h q r s t", "s3"), // shares "e f","f g","g h" with s1
      (4L, "m n o p m n o p", "s4")  // shares nothing
    ).toDF("doc_id", "text", "source")
    val exact = Dedup.sourceOverlap(docs, n = 2)
      .as[(String, String, Long)].collect().toSeq
    val est = Dedup.sourceOverlapTheta(docs, n = 2)
      .as[(String, String, Double, Double, Double)].collect().toSeq
    assert(exact == Seq(("s1", "s2", 3L), ("s1", "s3", 3L)))
    // theta emits ALL pairs (including zero-overlap ones); the exact tier
    // only emits pairs sharing >= 1 n-gram — check the overlap subset
    val estMap = est.map(e => (e._1, e._2) -> e).toMap
    assert(estMap.size == 6) // C(4,2) pairs
    exact.foreach { case (a, b, n) =>
      val (_, _, inter, union, jac) = estMap((a, b))
      assert(inter == n.toDouble, s"$a-$b: est $inter vs exact $n")
      assert(math.abs(jac - inter / union) < 1e-6)
    }
    assert(estMap(("s1", "s4"))._3 == 0.0)
  }

  test("sketch registry: merging per-batch sketches equals sketching the" +
    " whole corpus (incremental path); overlap prices off the registry") {
    val batch1 = Seq(
      (1L, "a b c d e f", "s1"),
      (2L, "x y z w v u", "s2")
    ).toDF("doc_id", "text", "source")
    val batch2 = Seq(
      (3L, "a b c q r t", "s1"), // more s1 content, overlapping grams
      (4L, "m n o p q r", "s2")
    ).toDF("doc_id", "text", "source")
    val whole = Dedup.sourceOverlapTheta(batch1.unionByName(batch2), n = 2)
      .as[(String, String, Double, Double, Double)].collect().toSeq
    val merged = Dedup.overlapFromSketches(
      Dedup.mergeSourceSketches(
        Dedup.sourceSketches(batch1, n = 2),
        Dedup.sourceSketches(batch2, n = 2)))
      .as[(String, String, Double, Double, Double)].collect().toSeq
    // exact mode: the incremental registry must be indistinguishable from
    // a full rescan
    assert(merged == whole)
    // sanity: the estimates really reflect the merged content (s1 grams
    // now include batch2's; shared grams with s2 stay 0 in this corpus)
    assert(whole.nonEmpty)
    // the registry is version-stamped (gram-hash scheme changes across
    // releases — v1 string grams vs v2 rolling hashes — live in disjoint
    // hash universes)
    val reg = Dedup.sourceSketches(batch1, n = 2)
    assert(reg.columns.contains("hash_v"))
    assert(reg.select("hash_v").distinct().as[Int].collect().toSeq ==
      Seq(Dedup.GramHashVersion))
  }

  test("sketch registry refuses cross-version folds and overlaps loudly") {
    val batch = Seq((1L, "a b c d e f", "s1")).toDF("doc_id", "text", "source")
    val v2 = Dedup.sourceSketches(batch, n = 2)
    val v1 = v2.withColumn("hash_v", lit(1)) // a persisted pre-r9 registry
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val eFold = intercept[Exception] {
      Dedup.mergeSourceSketches(v2, v1).collect()
    }
    assert(messages(eFold).exists(_.contains("cross-version sketch fold")),
      messages(eFold).mkString(" | "))
    val eOverlap = intercept[Exception] {
      Dedup.overlapFromSketches(
        v2.unionByName(v1.withColumn("source", lit("zz")))).collect()
    }
    assert(messages(eOverlap).exists(_.contains("cross-version sketches")),
      messages(eOverlap).mkString(" | "))
    // same-version folds stay clean and keep the stamp
    val ok = Dedup.mergeSourceSketches(v2, v2)
    assert(ok.select("hash_v").as[Int].collect().toSeq ==
      Seq(Dedup.GramHashVersion))
  }

  test("decontaminateTheta: exact-mode sketch preflight agrees with the" +
    " exact decontamination join") {
    // train sources with known eval overlap, well below sketch capacity
    val train = Seq(
      (100L, "a b c d e f", "s1"), // bigrams ab,bc,cd,de,ef — 3 shared w/ eval
      (101L, "x y z w v u", "s2"), // none shared
      (102L, "a b c q r t", "s3")  // ab,bc shared
    ).toDF("doc_id", "text", "source")
    val eval = Seq((1L, "a b c d", "e1")).toDF("doc_id", "text", "source")
    // eval bigrams: ab, bc, cd
    val r = Dedup.decontaminateTheta(train, eval, n = 2)
      .as[(String, Double, Double, Double)].collect().toSeq
    assert(r.map(x => (x._1, x._2, x._3)) == Seq(
      ("s1", 5.0, 3.0), ("s2", 5.0, 0.0), ("s3", 5.0, 2.0)))
    r.foreach(x => assert(math.abs(x._4 - x._3 / x._2) < 1e-6))
  }

  test("spanDedup: global first occurrence survives, others drop, docs rebuild in order") {
    val docs = Seq(
      (1L, "a b c d"), // spans "a b", "c d" -- both canonical
      (2L, "a b x"),   // "a b" duplicates doc 1; tail span "x" unique
      (3L, "c d")      // loses its only span to doc 1
    ).toDF("doc_id", "text")
    val r = Dedup.spanDedup(docs, spanTokens = 2)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r == Seq((1L, 2L, 2L, "a b c d"), (2L, 2L, 1L, "x"), (3L, 1L, 0L, "")))
  }

  test("spanDedup: span text never crosses a shuffle exchange") {
    val docs = Seq((1L, "a b c d"), (2L, "a b x"), (3L, "c d")).toDF("doc_id", "text")
    val df = Dedup.spanDedup(docs, spanTokens = 2)
    df.collect() // finalize the adaptive plan
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.nonEmpty) // the winner agg and the id join do shuffle
    val carriers = shuffles.filter(_.output.exists(a =>
      a.name == "span" || a.name == "spans" || a.name == "text"))
    assert(carriers.isEmpty,
      s"span text crossed an exchange:\n${carriers.mkString("\n")}")
  }

  test("spanDedup: within-doc repeats keep only the first occurrence") {
    val docs = Seq((7L, "a b a b")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(docs, spanTokens = 2)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r == Seq((7L, 2L, 1L, "a b")))
  }

  test("substringDedup: a long shared substring is fully excised at ANY " +
    "alignment (where spanDedup only drops aligned copies), keep-first") {
    // doc 1 carries a 14-token region; doc 2 repeats it MISALIGNED (3-token
    // unique prefix, 2-token unique suffix). With minTokens=4, every
    // 4-shingle of the repeated region is a dup -> coverage merges to the
    // full region; the unique prefix/suffix survive. (Tokens must be pure
    // a-z: the tokenizer splits on [^a-z]+, so digits would be separators.)
    val region = ('a' to 'n').map(c => s"r$c").mkString(" ")
    val docs = Seq(
      (1L, region),
      (2L, s"pa pb pc $region qa qb")
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedup(docs, minTokens = 4)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // doc 1 is canonical (min doc_id): untouched
    assert(r.head == (1L, 14L, 14L, 0L, region))
    // doc 2: the 14 shared tokens are gone as ONE merged run; prefix+suffix stay
    assert(r(1) == (2L, 19L, 5L, 1L, "pa pb pc qa qb"))
    // spanDedup at the same window size misses the misaligned copy entirely
    val sp = Dedup.spanDedup(docs, spanTokens = 4)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(sp(1)._2 == sp(1)._3, s"spanDedup unexpectedly dropped spans: $sp")
  }

  test("substringDedup: two separated dup regions merge into two runs; " +
    "within-doc repeats keep only the first occurrence") {
    // one doc: region A ... 6 unique tokens ... region A again (within-doc
    // repeat, same alignment class irrelevant) -> second copy excised
    val a = ('a' to 'h').map(c => s"a$c").mkString(" ")
    val b = ('a' to 'h').map(c => s"b$c").mkString(" ")
    val mid = ('a' to 'f').map(c => s"m$c").mkString(" ")
    val mid2 = ('a' to 'f').map(c => s"n$c").mkString(" ")
    val docs = Seq(
      (1L, s"$a $mid $b"),                 // canonical carrier of A and B
      (2L, s"$a $mid2 $b")                 // A and B dup; mid2 unique -> 2 runs
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedup(docs, minTokens = 4)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(r.head == (1L, 22L, 22L, 0L, s"$a $mid $b"))
    assert(r(1) == (2L, 22L, 6L, 2L, mid2))
    // determinism under repartition
    val r2 = Dedup.substringDedup(docs.repartition(5), minTokens = 4)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(r2 == r)
  }

  test("substringDedupFast: row-for-row parity with the string-gram oracle " +
    "tier on a generated corpus with planted dups; no window strings built") {
    // generated corpus: 30 base docs of 12-40 random a-z tokens, plus
    // misaligned full-region copies, within-doc repeats, sub-minTokens and
    // empty docs — every structural case the exact-tier tests pin
    val rnd = new scala.util.Random(77)
    val words = Vector("alpha", "bravo", "cedar", "delta", "ember", "frost",
      "gale", "honey", "iris", "jade", "karma", "lotus", "maple", "noble")
    val base = (0 until 30).map { i =>
      (i.toLong, Seq.fill(12 + rnd.nextInt(29))(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val region = base(3)._2 // full doc 3 re-embedded misaligned in two docs
    val docs = (base ++ Seq(
      (100L, s"zig zag $region"),
      (101L, s"$region tail end bits"),
      (102L, s"${base(5)._2} gap gap gap ${base(5)._2}"), // within-doc repeat
      (103L, "tiny"), (104L, ""))).toDF("doc_id", "text")
    val exact = Dedup.substringDedup(docs, minTokens = 6)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    val fast = Dedup.substringDedupFast(docs, minTokens = 6)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(fast == exact)
    // the planted dups actually exercised the excision path
    assert(exact.exists(r => r._2 > r._3 && r._4 > 0))
    // determinism under repartition (rolling hashes are partition-free)
    val fast2 = Dedup.substringDedupFast(docs.repartition(7), minTokens = 6)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(fast2 == fast)
    // the fast tier's plan builds NO shingle strings: no concat_ws over
    // sliced windows anywhere (the exact tier's signature gram builder)
    val plan = Dedup.substringDedupFast(docs, minTokens = 6)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("concat_ws( , slice("),
      s"window strings in the fast plan:\n$plan")
    assert(plan.contains("ngram_hashes"))
  }

  test("substringDedup: shingle text never crosses a shuffle exchange; " +
    "short and empty docs pass through untouched") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"), (2L, "z a b c d e f g h i j k"),
      (3L, "tiny doc"), (4L, "")).toDF("doc_id", "text")
    val df = Dedup.substringDedup(docs, minTokens = 4)
    val out = df.as[(Long, Long, Long, Long, String)].collect().toSeq
    // doc 3 is below minTokens, doc 4 empty: untouched, zero runs
    assert(out(2) == (3L, 2L, 2L, 0L, "tiny doc"))
    assert(out(3) == (4L, 0L, 0L, 0L, ""))
    df.collect() // finalize the adaptive plan
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.nonEmpty)
    // the one id-keyed rebuild join may carry toks (the documented
    // corpus-sized exchange, as in spanDedup); SHINGLE text (n_tokens ×
    // minTokens blow-up) and raw text must never cross
    val carriers = shuffles.filter(_.output.exists(a =>
      a.name == "shingle" || a.name == "text"))
    assert(carriers.isEmpty,
      s"shingle/text crossed an exchange:\n${carriers.mkString("\n")}")
  }

  // ten distinct letters-only tokens per n: TextAnalysis.tokens splits on
  // [^a-z]+, so a digit in a word would shatter it
  private def span(n: Int): String = {
    def alpha(i: Int) = ('a' + i).toChar
    (0 until 10).map(j => s"s${alpha(n)}w${alpha(j)}").mkString(" ")
  }

  test("span registry: union-distinct fold ≡ rescan; spanDedupAgainstRegistry " +
    "with an empty registry is spanDedup, and a later batch loses the " +
    "registry's spans") {
    val a = Seq((0L, span(1) + " " + span(2))).toDF("doc_id", "text")
    val b = Seq((1L, span(2) + " " + span(3))).toDF("doc_id", "text")
    val folded = Dedup.spanRegistry(a).unionByName(Dedup.spanRegistry(b)).distinct()
      .as[Long].collect().sorted.toSeq
    val rescan = Dedup.spanRegistry(a.unionByName(b)).as[Long].collect().sorted.toSeq
    assert(folded == rescan && folded.size == 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_spans", "n_spans_kept", "text_clean")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val batch = Seq((0L, span(1) + " " + span(2)), (1L, span(1) + " " + span(3)),
      (2L, span(3))).toDF("doc_id", "text")
    val empty = Dedup.spanRegistry(batch.where(lit(false)))
    assert(rows(Dedup.spanDedupAgainstRegistry(batch, empty)) ==
      rows(Dedup.spanDedup(batch)))
    // doc 2 repeats spans 1 and 3 of the prior ingest plus a fresh span 4
    val prior = Seq((0L, span(1) + " " + span(2)), (1L, span(3)))
      .toDF("doc_id", "text")
    val next = Seq((2L, span(1) + " " + span(4) + " " + span(3)))
      .toDF("doc_id", "text")
    assert(rows(Dedup.spanDedupAgainstRegistry(next, Dedup.spanRegistry(prior))) ==
      Seq((2L, 3L, 1L, span(4))))
  }

  test("substring registry: fold ≡ rescan, and a cross-hash-universe " +
    "registry fails LOUDLY at the consumer") {
    val a = Seq((0L, span(1) + " " + span(2))).toDF("doc_id", "text")
    val b = Seq((1L, span(2) + " " + span(3))).toDF("doc_id", "text")
    val folded = Dedup.substringRegistry(a).unionByName(Dedup.substringRegistry(b))
      .distinct().select("h").as[Long].collect().sorted.toSeq
    val rescan = Dedup.substringRegistry(a.unionByName(b))
      .select("h").as[Long].collect().sorted.toSeq
    assert(folded == rescan && folded.nonEmpty)
    // a region of the prior ingest repeated at a SHIFTED alignment (2 fresh
    // lead-in tokens) is excised whole; only the lead-in survives
    val prior = Seq((0L, span(1) + " ya yb")).toDF("doc_id", "text")
    val next = Seq((1L, "za zb " + span(1) + " ya yb")).toDF("doc_id", "text")
    val cleaned = Dedup.substringDedupAgainstRegistry(next,
        Dedup.substringRegistry(prior))
      .select("doc_id", "n_tokens", "n_tokens_kept", "n_dup_runs", "text_clean")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(cleaned == Seq((1L, 14L, 2L, 1L, "za zb")))
    // a rolling-hash registry consumed by the string-hash tier must throw,
    // not silently excise nothing (disjoint hash universes)
    val wrongUniverse = Dedup.substringRegistry(a, rollingHash = true)
    val ex = intercept[Exception] {
      Dedup.substringDedupAgainstRegistry(b, wrongUniverse).collect()
    }
    assert(ex.getMessage != null)
  }

  test("latestByKey keeps the newest row per key, ties broken by tieCol") {
    val df = Seq(
      (1L, 100L, 10L, "a"), (1L, 200L, 11L, "b"),  // newest ts wins
      (2L, 300L, 20L, "c"), (2L, 300L, 21L, "d"),  // ts tie -> max tie col
      (3L, 400L, 30L, "e")
    ).toDF("key", "ts", "ver", "payload")
    val r = Dedup.latestByKey(df, Seq("key"), "ts", "ver")
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(r == Seq((1L, 200L, 11L, "b"), (2L, 300L, 21L, "d"), (3L, 400L, 30L, "e")))
  }

  test("dedupAgainstIndex drops index hits and intra-batch dups, keeps min id") {
    val old = docsMini.where(col("doc_id") <= 2)
    val nw = Seq(
      (10L, "pack my box with five dozen liquor jugs"), // already in the index
      (11L, "fresh text one"), (12L, "fresh text one"), // intra-batch dup
      (13L, "fresh text two")
    ).toDF("doc_id", "text")
    val r = Dedup.dedupAgainstIndex(nw, Dedup.hashIndex(old)).as[Long].collect().toSeq
    assert(r == Seq(11L, 13L))
  }

  // ---- batch-incremental MinHash-LSH near-dedup (r14 verdict #2) ----

  // prior corpus: four mutually-distinct long texts (each doc is its own
  // bucket representative); batch: an exact copy, a one-token near-dup
  // (J = 17/19 ≈ 0.895), a within-batch copy of that near-dup, a fresh
  // doc, and a shingle-less doc
  private def nearIncPrior = Seq(
    (0L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"),
    (1L, "zero wun too tree fower fife six seven eight niner " +
      "decimal point stop over out correction say again radio check"),
    (2L, "red orange yellow green blue indigo violet crimson amber teal " +
      "maroon olive navy aqua coral ivory khaki plum salmon tan"),
    (3L, "spark engine executes distributed dataflow graphs quickly across " +
      "many machines with columnar memory and lazy optimized query plans")
  ).toDF("doc_id", "text")

  private def nearIncBatch = Seq(
    (10L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"), // = doc 0
    (11L, "zero wun too tree fower fife six seven eight niner " +
      "decimal point stop over out correction say again radio uniform"), // ~ doc 1
    (12L, "zero wun too tree fower fife six seven eight niner " +
      "decimal point stop over out correction say again radio uniform"), // = 11
    (13L, "completely fresh material about nothing previously archived " +
      "discussing entirely novel topics in unprecedented combinations today"),
    (14L, "short")
  ).toDF("doc_id", "text")

  test("minHashBucketRegistry fold: merging per-batch registries equals the " +
    "registry of the concatenated corpus (id-ordered batches)") {
    val merged = Dedup.mergeMinHashRegistries(
        Dedup.minHashBucketRegistry(nearIncPrior),
        Dedup.minHashBucketRegistry(nearIncBatch))
      .as[(Int, Long, Long)].collect().toSet
    val rescan = Dedup.minHashBucketRegistry(nearIncPrior.unionByName(nearIncBatch))
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == rescan)
  }

  test("minHashDedupAgainstRegistry: planted copy and near-dup drop against " +
    "the registry, within-batch copy drops, fresh and shingle-less docs survive") {
    val r = Dedup.minHashDedupAgainstRegistry(
        nearIncBatch, Dedup.minHashBucketRegistry(nearIncPrior), nearIncPrior)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(r == Seq(
      10L -> Some(0L),  // exact copy of prior doc 0 (J = 1.0)
      11L -> Some(1L),  // one-token near-dup of prior doc 1 (J ≈ 0.895)
      12L -> Some(1L),  // min verified match is the PRIOR doc, not batch 11
      13L -> None, 14L -> None))
    // and the exact-copy jaccard is exactly 1.0
    val j10 = Dedup.minHashDedupAgainstRegistry(
        nearIncBatch, Dedup.minHashBucketRegistry(nearIncPrior), nearIncPrior)
      .where(col("doc_id") === 10L).select("jaccard").as[Double].head()
    assert(j10 == 1.0)
  }

  test("incremental near-dedup: LSH-face drops are a subset of the exact " +
    "face's drops, with identical (dup_of, jaccard) on the common set") {
    val docs = docsMini.drop("source").unionByName(
      nearIncPrior.where(col("doc_id") > 3)) // reuse small+long mix as prior
    val batch = nearIncBatch
    val lsh = Dedup.minHashDedupAgainstRegistry(
        batch, Dedup.minHashBucketRegistry(docs), docs)
      .where(col("dup_of").isNotNull)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Dedup.nearDupCleanAgainstPrior(batch, docs)
      .where(col("dup_of").isNotNull)
      .as[(Long, Long, Double)].collect().toSet
    val exactById = exact.map(t => t._1 -> ((t._2, t._3))).toMap
    lsh.foreach { case (id, dup, j) =>
      assert(exactById.contains(id),
        s"LSH dropped $id but the exact tier kept it (precision breach)")
      assert(exactById(id) == ((dup, j)),
        s"faces disagree on $id: lsh=($dup,$j) exact=${exactById(id)}")
    }
  }

  /** Executed plans of every query `body` runs, the build's actions
    * included: the call collects at build time, so the returned frame's own
    * plan shows only the last of its queries. */
  private def executedPlans(body: => Any): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    Bridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Shuffle exchanges of `plans` that carry a `text` column; fails when
    * the plans hold no shuffle or no query read document text, so the
    * check cannot pass on plans that miss the verify. */
  private def textShuffles(plans: Seq[SparkPlan]): Seq[ShuffleExchangeExec] = {
    val shuffles = plans.flatMap(p => collectWithSubqueries(p) { case s: ShuffleExchangeExec => s })
    assert(shuffles.nonEmpty, s"no shuffle exchange in ${plans.size} executed plans")
    assert(plans.exists(p => collectWithSubqueries(p) { case n => n }
        .exists(_.output.exists(_.name == "text"))),
      s"none of ${plans.size} executed plans reads document text")
    shuffles.filter(_.output.exists(_.name == "text"))
  }

  test("minHashDedupAgainstRegistry: no shuffle exchange carries document text") {
    val plans = executedPlans {
      Dedup.minHashDedupAgainstRegistry(
        nearIncBatch, Dedup.minHashBucketRegistry(nearIncPrior), nearIncPrior).collect()
    }
    val textCarriers = textShuffles(plans)
    assert(textCarriers.isEmpty,
      "document text crossed a shuffle exchange in the incremental LSH face")
  }

  test("minHashDedupAgainstRegistry: no shuffle exchange carries document " +
    "text when prior, batch and registry are parquet and nothing auto-broadcasts") {
    val dir = java.nio.file.Files.createTempDirectory("registry_text").toString
    val docs = RegistryDedupFixtures.parquetDocs(spark,
      RegistryDedupFixtures.nearDups(seed = 3L, prior = 300, dups = 60), s"$dir/docs")
    val prior = docs.where(col("doc_id") < 300)
    val batch = docs.where(col("doc_id") >= 300)
    val registry = RegistryDedupFixtures.fold(spark,
      RegistryDedupFixtures.emptyRegistry(spark), prior, s"$dir/registry")
    // a corpus too big to auto-broadcast: the only broadcasts are the ones
    // the operator asks for
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      var drops = 0L
      val plans = executedPlans {
        drops = Dedup.minHashDedupAgainstRegistry(batch, registry, prior)
          .collect().count(!_.isNullAt(1)).toLong
      }
      assert(drops >= 50, s"only $drops of 60 planted near-dups dropped")
      val textCarriers = textShuffles(plans)
      assert(textCarriers.isEmpty,
        s"document text crossed a shuffle exchange:\n${textCarriers.mkString("\n")}")
    }
  }

  test("registry fold after minHashDedupAgainstRegistry on the same batch " +
    "reads the persisted banding, not a second MinHash pass") {
    // a literal registry, as read back from storage: no MinHash under it
    val built = Dedup.minHashBucketRegistry(nearIncPrior)
    val registry = spark.createDataFrame(java.util.Arrays.asList(built.collect(): _*), built.schema)
    Dedup.minHashDedupAgainstRegistry(nearIncBatch, registry, nearIncPrior).collect()
    val folded = Dedup.mergeMinHashRegistries(registry, Dedup.minHashBucketRegistry(nearIncBatch))
    val plan = folded.queryExecution.withCachedData
    val hasSig = (p: LogicalPlan) => p.expressions.exists(_.exists(_.isInstanceOf[MinHashSig]))
    val cached = plan.collect { case r: InMemoryRelation => r }
    assert(cached.exists(_.cacheBuilder.logicalPlan.exists(hasSig)),
      s"fold did not read the cached banding:\n$plan")
    assert(!plan.exists(hasSig), s"fold re-plans the batch's MinHash loop:\n$plan")
    // the call released its batch shingles without a cascade: the banding
    // keeps the buffers its candidate pass loaded instead of being recached
    assert(cached.filter(_.cacheBuilder.logicalPlan.exists(hasSig))
      .forall(_.cacheBuilder.isCachedColumnBuffersLoaded), "the banding was recached")
    assert(Dedup.shingleDF(nearIncBatch, "doc_id", "text", 3).storageLevel == StorageLevel.NONE,
      "the batch shingles are still cached")
  }

  test("job budget: one warm ingest batch against a parquet registry runs a " +
    "constant, budgeted number of Spark jobs") {
    val budget = 7
    val dir = java.nio.file.Files.createTempDirectory("registry_jobs").toString
    val docs = RegistryDedupFixtures.parquetDocs(spark,
      RegistryDedupFixtures.stream(seed = 11L, n = 400), s"$dir/docs")
    var registry = RegistryDedupFixtures.emptyRegistry(spark)
    val jobs = (0 until 4).map { b =>
      val (lo, hi) = (b * 100L, (b + 1) * 100L)
      val batch = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
      val prior = docs.where(col("doc_id") < lo)
      // the build runs every job; the result is local, so its collect runs none
      var cleaned: DataFrame = null
      val built = jobsOf { cleaned = Dedup.minHashDedupAgainstRegistry(batch, registry, prior) }
      val collected = jobsOf(cleaned.collect())
      registry = RegistryDedupFixtures.fold(spark, registry, batch, s"$dir/registry/$b")
      built + collected -> collected
    }
    info(s"jobs per batch (total -> collect): ${jobs.mkString(", ")}")
    assert(jobs(2) == jobs(3), s"jobs per batch not constant: ${jobs.mkString(", ")}")
    assert(jobs(2)._1 <= budget, s"batch ran ${jobs(2)._1} jobs (budget $budget)")
    assert(jobs.forall(_._2 == 0), s"collecting the result ran jobs: ${jobs.mkString(", ")}")
  }

  test("editDistanceNearDup: SymSpell blocking finds all pairs within maxDist, none beyond") {
    val docs = Seq(
      (0L, "hello world"),   // 1 sub from 1
      (1L, "hxllo world"),
      (2L, "hello worlds"),  // 1 insert vs 0; 2 edits vs 1
      (3L, "HELLO WORLD"),   // case-folds to equal 0 -> dist 0
      (4L, "totally different text")
    ).toDF("doc_id", "text")
    val r = Dedup.editDistanceNearDup(docs, maxDist = 1, keyLen = 24)
      .as[(Long, Long, Int)].collect().toSeq
    assert(r == Seq((0L, 1L, 1), (0L, 2L, 1), (0L, 3L, 0), (1L, 3L, 1), (2L, 3L, 1)))
  }

  test("editDistanceNearDup at maxDist=2 reaches 2-edit pairs") {
    val docs = Seq((0L, "abcdef"), (1L, "abXdYf"), (2L, "abcdef99")).toDF("doc_id", "text")
    val r = Dedup.editDistanceNearDup(docs, maxDist = 2, keyLen = 24)
      .as[(Long, Long, Int)].collect().toSeq
    // (1,2) is 4 edits apart and must not appear
    assert(r == Seq((0L, 1L, 2), (0L, 2L, 2)))
  }

  test("editDistanceNearDup equals the naive cross-join on random mutated strings") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 30).map(_ =>
      (0 until (5 + rnd.nextInt(15))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    val docs = base.zipWithIndex.flatMap { case (s, i) =>
      val mut = s.updated(rnd.nextInt(s.length), ('a' + rnd.nextInt(4)).toChar)
      Seq((i * 2L, s), (i * 2L + 1L, mut))
    }.toDF("doc_id", "text")
    val got = Dedup.editDistanceNearDup(docs, maxDist = 2, keyLen = 24)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val keyed = docs.select(col("doc_id").as("id"),
      substring(lower(col("text")), 1, 24).as("k"))
    val naive = keyed.as("a").crossJoin(keyed.as("b"))
      .where(col("a.id") < col("b.id") && levenshtein(col("a.k"), col("b.k")) <= 2)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    assert(got == naive && naive.nonEmpty)
  }

  test("componentSizeDist rolls the near-dup graph into a size distribution") {
    // components {1,2,3} (chain) and {10,11}: one 2-cluster, one 3-cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val r = Dedup.componentSizeDist(pairs).as[(Long, Long)].collect().toSeq
    assert(r == Seq((2L, 1L), (3L, 1L)))
  }

  test("containmentPairs finds subset dups that Jaccard misses, both directions scored") {
    val docs = Seq(
      (1L, "one two three four five"),                       // 3 shingles
      (2L, "one two three four five six seven eight"),       // 6, contains all of doc 1
      (3L, "nine ten eleven twelve")                         // unrelated
    ).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(docs, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(r == Seq((1L, 2L, 1.0, 0.5)))
    // Jaccard at the same threshold misses it: J = 3/6 = 0.5
    assert(Dedup.ngramJaccardPairs(docs, threshold = 0.9).count() == 0L)
    // below containment threshold nothing is emitted
    assert(Dedup.containmentPairs(
      Seq((1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"),
      threshold = 0.5).count() == 0L)
  }

  test("canonicalizeUrl: host case-fold, www/query/fragment/slash stripped, path case kept") {
    val urls = Seq(
      "https://WWW.Example.com/Doc/7",
      "http://example.com/Doc/7/",
      "https://example.com/Doc/7?utm_source=x&ref=y",
      "https://www.example.com/Doc/7#top",
      "https://example.com/doc/7",   // different path CASE: distinct
      "https://example.com"          // no path at all
    ).toDF("url")
    val r = urls.select(Dedup.canonicalizeUrl(col("url"))).as[String].collect()
    assert(r.take(4).forall(_ == "example.com/Doc/7"))
    assert(r(4) == "example.com/doc/7" && r(5) == "example.com")
  }

  test("urlDedup keeps min id per canonical URL with dup counts") {
    val docs = Seq(
      (1L, "https://a.com/x?q=1"), (2L, "https://WWW.A.com/x"),
      (3L, "https://a.com/y"), (4L, "http://a.com/x#frag")
    ).toDF("doc_id", "url")
    val r = Dedup.urlDedup(docs).as[(Long, String, Long)].collect().toSeq
    assert(r == Seq((1L, "a.com/x", 3L), (3L, "a.com/y", 1L)))
  }

  test("snapshotDiff classifies added/removed/changed; unchanged rows vanish") {
    val a = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "alpha"),            // unchanged → absent from output
                (2L, "beta prime"),       // changed
                (4L, "delta"), (5L, "epsilon")) // 3 removed, 5 added
      .toDF("doc_id", "text")
    val r = Dedup.snapshotDiff(a, b).as[(Long, String)].collect().toSeq
    assert(r == Seq((2L, "changed"), (3L, "removed"), (5L, "added")))
    // diff against self is empty; diff direction flips added/removed
    assert(Dedup.snapshotDiff(a, a).count() == 0)
    val rev = Dedup.snapshotDiff(b, a).as[(Long, String)].collect().toSeq
    assert(rev == Seq((2L, "changed"), (3L, "added"), (5L, "removed")))
  }

}
