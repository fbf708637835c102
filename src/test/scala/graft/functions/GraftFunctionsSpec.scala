package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions match the Column API expressions") {
    GraftFunctions.register(spark)
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b").createOrReplaceTempView("vecs")
    val sql = spark.sql("SELECT float_dot(a, b) AS d FROM vecs").as[Double].collect()(0)
    assert(sql == 11.0)

    Seq(Seq(7L, 8L, 9L)).toDF("hs").createOrReplaceTempView("hs")
    val viaSql = spark.sql("SELECT minhash_sig(hs, 8, 42) AS s, simhash_pack(hs) AS p FROM hs")
      .collect()(0)
    val viaCol = Seq(Seq(7L, 8L, 9L)).toDF("hs")
      .select(functions.minhash_sig(col("hs"), 8, 42L).as("s"),
        functions.simhash_pack(col("hs")).as("p"))
      .collect()(0)
    assert(viaSql.getSeq[Long](0) == viaCol.getSeq[Long](0))
    assert(viaSql.getLong(1) == viaCol.getLong(1))
  }

  test("session extension class injects the same functions") {
    // A fresh session built through the extensions path; the shared test
    // session already covers the imperative path above.
    val ext = new GraftExtensions()
    val builder = new org.apache.spark.sql.SparkSessionExtensions
    ext.apply(builder) // must not throw; descriptors are well-formed
    assert(GraftFunctions.descriptors.map(_._1.funcName).sorted ==
      Seq("compress_ratio", "float_dot", "float_double_dot",
        "minhash_sig", "nfc_normalize", "simhash_pack").sorted)
  }

  test("float_double_dot is bit-identical to the chained getItem/cast tree") {
    GraftFunctions.register(spark)
    // arbitrary doubles (not float-representable) exercise the mixed widths
    val pc = Array(0.1234567890123, -0.9876543210987, 0.3333333333333)
    val df = Seq((1L, Seq(1.5f, -2.25f, 0.875f)), (2L, Seq(0.1f, 0.2f, 0.3f)))
      .toDF("id", "v")
    val tree = (0 until 3).map(j =>
      col("v").getItem(j).cast("double") * lit(pc(j))).reduce(_ + _)
    val rows = df.select(
        functions.float_double_dot(col("v"), typedLit(pc.toSeq)).as("loop"),
        tree.as("tree"))
      .as[(Double, Double)].collect()
    rows.foreach { case (loop, t) => assert(loop == t) } // bitwise, not approx
    // SQL surface matches the Column API
    df.createOrReplaceTempView("fdd")
    val sql = spark.sql(
      "SELECT float_double_dot(v, array(0.1234567890123D, -0.9876543210987D, 0.3333333333333D)) FROM fdd WHERE id = 1")
      .as[Double].collect()(0)
    assert(sql == rows(0)._1)
    // null array → null out; length mismatch folds over the shorter
    val nulls = Seq((Option.empty[Seq[Float]], Seq(1.0)))
      .toDF("v", "w")
      .select(functions.float_double_dot(col("v"), col("w"))).collect()
    assert(nulls(0).isNullAt(0))
    val short = Seq((Seq(2.0f, 3.0f), Seq(10.0)))
      .toDF("v", "w")
      .select(functions.float_double_dot(col("v"), col("w"))).as[Double].collect()
    assert(short(0) == 20.0)
  }

  test("max_cos_round is bit-identical to the array_max-of-rounded-cosine9 " +
    "literal tree it replaces; empty selection yields null") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vec(): Seq[Float] = Seq.fill(dim)((rnd.nextGaussian()).toFloat)
    val selVecs: Seq[Seq[Float]] = Seq.fill(5)(vec())
    def nrm(v: Seq[Float]): Double =
      math.sqrt(v.foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble))
    val selNrms = selVecs.map(nrm)
    val df = Seq.tabulate(40)(i => (i.toLong, vec()))
      .toDF("id", "v")
      .withColumn("nrm", functions.float_norm(col("v")))
      .withColumn("sel_vecs", typedLit(selVecs))
      .withColumn("sel_nrms", typedLit(selNrms))
    // the literal tree the batched greedy selectors used before r13:
    // array_max over individually-rounded cosines to each selected vector
    val tree = array_max(array(selVecs.zip(selNrms).map { case (sv, sn) =>
      round(functions.float_dot(col("v"), typedLit(sv)) / (col("nrm") * lit(sn)), 9)
    }: _*))
    val rows = df.select(
        functions.max_cos_round(col("v"), col("nrm"), col("sel_vecs"),
          col("sel_nrms")).as("loop"),
        tree.as("tree"))
      .as[(Double, Double)].collect()
    assert(rows.length == 40)
    rows.foreach { case (loop, t) => assert(loop == t) } // bitwise, not approx
    // empty selection → null (callers score seed rounds separately)
    val empty = df.limit(1).select(functions.max_cos_round(col("v"), col("nrm"),
      typedLit(Seq.empty[Seq[Float]]), typedLit(Seq.empty[Double]))).collect()
    assert(empty(0).isNullAt(0))
    // a null sel entry is skipped, matching array_max's null-skipping
    val withNull = df.limit(5).select(
        functions.max_cos_round(col("v"), col("nrm"),
          typedLit(Seq(Option.empty[Seq[Float]], Some(selVecs.head))),
          typedLit(Seq(Option.empty[Double], Some(selNrms.head)))).as("loop"),
        round(functions.float_dot(col("v"), typedLit(selVecs.head)) /
          (col("nrm") * lit(selNrms.head)), 9).as("one"))
      .as[(Double, Double)].collect()
    withNull.foreach { case (loop, one) => assert(loop == one) }
    // total-order parity (ADVICE r13): a LATER-arriving NaN sim must win,
    // exactly as array_max ranks doubles (NaN greatest — Spark's
    // TypeUtils ordering). sel entry #1 scores a normal 1.0, entry #2 has
    // sel_nrm = 0.0 with an orthogonal vector so sim = 0/0 = NaN inside
    // the loop's raw Java division; the plain `>` this loop used before
    // silently kept the 1.0. (No literal-tree comparison here: a
    // `lit(0)`-divisor Column is an ANSI-mode DIVIDE_BY_ZERO error — the
    // expression's internal arithmetic is deliberately non-ANSI Java,
    // like FloatDot's.)
    val nanRows = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "v")
      .select(
        functions.max_cos_round(col("v"), lit(1.0),
          typedLit(Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))),
          typedLit(Seq(1.0, 0.0))).as("loop"))
      .as[Double].collect()
    nanRows.foreach { loop =>
      assert(loop.isNaN, s"expected the later-arriving NaN to win, got $loop")
    }
  }

  test("nfc_normalize composes decomposed sequences; ASCII and nulls pass through") {
    import graft.functions.{functions => gf}
    val df = Seq(
      Some("cafe\u0301"),     // decomposed e + combining acute
      Some("caf\u00e9"),      // already precomposed
      Some("plain ascii"),
      None
    ).toDF("s")
    val r = df.select(gf.nfc_normalize(col("s"))).as[Option[String]].collect().toSeq
    assert(r == Seq(Some("caf\u00e9"), Some("caf\u00e9"), Some("plain ascii"), None))
    // registered SQL surface agrees with the Column API
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("nfc_in")
    val sqlR = spark.sql("SELECT nfc_normalize(s) FROM nfc_in").as[Option[String]].collect().toSeq
    assert(sqlR == r)
    // codegen and interpreted paths agree
    val a = "ab\u0301c\u0301" // multiple combining marks
    val one = Seq(a).toDF("s").select(gf.nfc_normalize(col("s"))).as[String].head()
    assert(one == java.text.Normalizer.normalize(a, java.text.Normalizer.Form.NFC))
  }

  test("compress_ratio separates repetitive from varied text, deterministic") {
    import graft.functions.{functions => gf}
    val rep = "spam ham " * 200
    val varied = (0 until 200).map(i => (i * 2654435761L).toHexString).mkString(" ")
    val df = Seq((1L, rep), (2L, varied)).toDF("id", "s")
    val r = df.select(col("id"), gf.compress_ratio(col("s")).as("cr"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) < 0.1, s"repetitive should compress hard, got ${r(1L)}")
    assert(r(2L) > 0.5, s"high-entropy should not, got ${r(2L)}")
    // matches the helper directly (codegen path == static helper)
    val direct = graft.functions.Zlib.ratio(rep.getBytes("UTF-8"))
    assert(r(1L) == direct)
    // stable under repartition, empty string defined as 1.0
    val r4 = df.repartition(4).select(col("id"), gf.compress_ratio(col("s")))
      .as[(Long, Double)].collect().toMap
    assert(r4 == r)
    val e = Seq("").toDF("s").select(gf.compress_ratio(col("s"))).as[Double].head()
    assert(e == 1.0)
    // SQL registration surface
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("cr_in")
    val sq = spark.sql("SELECT compress_ratio(s) FROM cr_in WHERE id = 1").as[Double].head()
    assert(sq == direct)
  }

  test("bpe_encode: hand case, no-mergeable-pair invariant, training parity, " +
    "codegen/interpreted agreement") {
    import graft.functions.{functions => gf}
    // hand case: merges [(a,a) rank 0, (a,b) rank 1] on "aaab"
    // chars a a a b </w> -> merge (a,a) all occurrences -> aa a b </w>
    // -> lowest present pair (a,b) -> aa ab </w>; nothing applies -> stop
    val merges = Seq(("a", "a"), ("a", "b"))
    val enc = Seq("aaab").toDF("w")
      .select(gf.bpe_encode(col("w"), merges).as("syms"))
      .as[Seq[String]].head()
    assert(enc == Seq("aa", "ab", "</w>"))
    // driver-side helper agrees with the distributed (codegen) path
    val ranks = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      ranks.put(graft.functions.Bpe.key(l, r), Int.box(i)) }
    assert(graft.functions.Bpe.encode("aaab", ranks).toSeq == enc)
    // train on a corpus, encode the corpus: (1) no adjacent pair of any
    // encoded word is still mergeable; (2) concatenating a word's symbols
    // (minus </w>) reproduces the word
    val docs = (0L until 30L).map(i =>
      (i, s"the quick brown fox num$i jumps over the lazy dog")).toDF("doc_id", "text")
    val trained = graft.llm.TextAnalysis.bpeTrain(docs, numMerges = 15)
      .select("left", "right").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val mergeSet = trained.toSet
    val words = docs
      .select(explode(graft.llm.TextAnalysis.tokens(col("text"))).as("w")).distinct()
      .select(col("w"), gf.bpe_encode(col("w"), trained).as("syms"))
      .as[(String, Seq[String])].collect()
    words.foreach { case (w, syms) =>
      syms.sliding(2).foreach {
        case Seq(a, b) => assert(!mergeSet((a, b)), s"$w: mergeable pair ($a,$b) survived")
        case _ =>
      }
      assert(syms.last.endsWith("</w>"))
      assert(syms.mkString.stripSuffix("</w>") == w, s"symbols don't respell $w: $syms")
    }
    // null word -> null result
    val n = Seq((1L, null: String)).toDF("id", "w")
      .select(gf.bpe_encode(col("w"), merges)).collect()(0)
    assert(n.isNullAt(0))
  }

  test("lit_top_cents matches the sort_array struct tree it replaces " +
    "(values, ranking, ties, take, round, nulls)") {
    import graft.functions.{functions => gf}
    val rnd = new scala.util.Random(99)
    val d = 8
    // duplicate centroid (cids 2 and 5) manufactures EXACT sim ties — the
    // tie must go to the larger cid, like sort_array desc on (sim, cid)
    val dup = Seq.fill(d)(rnd.nextFloat())
    val cents: Seq[(Int, Seq[Float], Double)] =
      (Seq(0, 1, 3, 4).map(c => (c, Seq.fill(d)(rnd.nextFloat()), ())) ++
        Seq((2, dup, ()), (5, dup, ()))).map { case (c, v, _) =>
        (c, v, math.sqrt(v.foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble)))
      }.sortBy(_._1)
    val rows = (0L until 50L).map(i => (i, Seq.fill(d)(rnd.nextFloat()))) :+
      (50L, null.asInstanceOf[Seq[Float]])
    val df = rows.toDF("id", "v")
      .withColumn("nrm", sqrt(gf.float_dot(col("v"), col("v"))))
    val cs = cents.toIndexedSeq
    def tree(take: Int, scale: Option[Int]): org.apache.spark.sql.Column =
      slice(sort_array(array(cs.map { case (cid, cv, cn) =>
        val sim = gf.float_dot(col("v"), typedLit(cv)) / (col("nrm") * lit(cn))
        struct(scale.map(s => round(sim, s)).getOrElse(sim).as("sim"),
          lit(cid).as("cid"))
      }: _*), asc = false), 1, take)
    def fused(take: Int, scale: Int): org.apache.spark.sql.Column =
      gf.lit_top_cents(col("v"), col("nrm"), cs.flatMap(_._2).toArray,
        cs.map(_._3).toArray, cs.map(_._1).toArray, d, take, scale)
    // non-null rows only: on a null vector the old tree still emitted
    // structs (null sims sorted), while the fused loop nulls the whole
    // result — the cleaner contract, asserted separately below; every
    // production caller filters or never produces null vectors
    val dfNN = df.where(col("v").isNotNull)
    for (take <- Seq(1, 3, 6, 10)) {
      val a = dfNN.select(col("id"), tree(take, None).as("r")).collect()
      val b = dfNN.select(col("id"), fused(take, -1).as("r")).collect()
      assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
        s"take=$take mismatch vs the struct tree")
    }
    // roundScale=9 must match round(sim, 9) bit-for-bit (oracle contract)
    val ar = dfNN.select(tree(1, Some(9)).as("r")).collect()
    val br = dfNN.select(fused(1, 9).as("r")).collect()
    assert(ar.map(_.toString).toSeq == br.map(_.toString).toSeq)
    // null vector -> null result (BinaryExpression null discipline)
    assert(df.where(col("id") === 50L).select(fused(1, -1)).collect()(0).isNullAt(0))
    // the tie really exercised: with v = dup both dup centroids hit sim ~1
    val tied = Seq((0L, dup)).toDF("id", "v")
      .withColumn("nrm", sqrt(gf.float_dot(col("v"), col("v"))))
      .select(fused(2, -1).getItem(0).getField("cid"),
        fused(2, -1).getItem(1).getField("cid")).collect()(0)
    assert(tied.getInt(0) == 5 && tied.getInt(1) == 2, s"tie must rank cid desc: $tied")
  }

  test("pq_encode matches the array_min struct tree it replaces " +
    "(argmin, first-min ties, nulls)") {
    import graft.functions.{functions => gf}
    val rnd = new scala.util.Random(7)
    val nSub = 2; val nCodes = 4; val subDim = 4; val d = nSub * subDim
    // code 1 duplicates code 0 in subspace 0: exact distance tie — the
    // SMALLER code index must win (array_min on (d, c) structs)
    val cw0 = Seq.fill(subDim)(rnd.nextFloat())
    val codebooks: IndexedSeq[IndexedSeq[Seq[Float]]] = IndexedSeq(
      IndexedSeq(cw0, cw0, Seq.fill(subDim)(rnd.nextFloat()), Seq.fill(subDim)(rnd.nextFloat())),
      IndexedSeq.fill(nCodes)(Seq.fill(subDim)(rnd.nextFloat())))
    val cbFlat = (0 until nSub).flatMap(m => codebooks(m).flatten).toArray
    val halves = (0 until nSub).flatMap(m => codebooks(m).map(cv =>
      cv.foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble) / 2.0)).toArray
    val rows = (0L until 40L).map(i => (i, Seq.fill(d)(rnd.nextFloat()))) :+
      (40L, null.asInstanceOf[Seq[Float]])
    val df = rows.toDF("id", "v")
      .withColumn("nrm", sqrt(gf.float_dot(col("v"), col("v"))))
    def subV(m: Int) = slice(col("v"), m * subDim + 1, subDim)
    def treeCode(m: Int) = array_min(array(
      codebooks(m).zipWithIndex.map { case (cv, c) =>
        struct((lit(halves(m * nCodes + c)) -
          gf.float_dot(subV(m), typedLit(cv)) / col("nrm")).as("d"), lit(c).as("c"))
      }: _*)).getField("c")
    val fusedCodes = gf.pq_encode(col("v"), col("nrm"), cbFlat, halves, nSub, nCodes, subDim)
    val a = df.where(col("v").isNotNull)
      .select(col("id"), treeCode(0).as("c0"), treeCode(1).as("c1")).collect()
    val b = df.where(col("v").isNotNull)
      .select(col("id"), element_at(fusedCodes, 1).as("c0"),
        element_at(fusedCodes, 2).as("c1")).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // the duplicated codeword never yields code 1 (first-min wins)
    assert(b.forall(_.getInt(1) != 1))
    assert(df.where(col("id") === 40L).select(fusedCodes).collect()(0).isNullAt(0))
  }

  test("ngram_hashes: rolling polynomial matches the naive per-window fold; " +
    "window identity; edge cases") {
    import graft.functions.{functions => gf}
    val rnd = new scala.util.Random(31)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (0L until 30L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(20))(words(rnd.nextInt(words.size))))) ++
      Seq((30L, Seq("a", "b")), (31L, Seq.empty[String]), (32L, null.asInstanceOf[Seq[String]]))
    val df = docs.toDF("id", "toks")
    for (n <- Seq(1, 3, 8)) {
      val got = df.select(col("id"), gf.ngram_hashes(col("toks"), n).as("h"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
      docs.foreach { case (id, toks) =>
        if (toks == null) assert(got(id) == null)
        else {
          // naive reference: hash each window's tokens with the same
          // left-to-right polynomial over per-token XXH64 hashes
          val th = toks.map(t =>
            org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
              org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L))
          val expect = (0 to toks.length - n).map(s =>
            th.slice(s, s + n).foldLeft(0L)((c, h) => c * graft.functions.NgramHashes.M + h))
          assert(got(id) == expect, s"id=$id n=$n")
        }
      }
    }
    // identical windows hash identically wherever they occur
    val same = Seq((0L, Seq("x", "y", "z", "x", "y", "z"))).toDF("id", "toks")
      .select(gf.ngram_hashes(col("toks"), 3).as("h")).as[Seq[Long]].head()
    assert(same(0) == same(3) && same.distinct.size == 4 - 1)
  }
}
