package graft.llm

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded incremental near-dedup streams and the retained two-pass
  * formulation of [[Dedup.minHashDedupAgainstRegistry]]. */
object RegistryDedupFixtures {
  // three-letter words: the tokenizer keeps only letters
  private val vocab = (0 until 3000).map(i =>
    Seq(i / 676, i / 26 % 26, i % 26).map(c => ('a' + c).toChar).mkString)

  private def fresh(rnd: Random): String =
    Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  private def mutate(rnd: Random, text: String, edits: Int): String = {
    val t = text.split(" ")
    (1 to edits).foreach(_ => t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size)))
    t.mkString(" ")
  }

  /** Texts of ids 0 until n. Each doc is fresh 40-token text, a 1–4 token
    * edit of an earlier doc (J from ~0.5 to ~0.9, so the threshold cuts
    * both ways), an exact copy of an earlier doc, or shingle-less. Earlier
    * docs include the same batch's, so within-batch copies occur. */
  def stream(seed: Long, n: Int): IndexedSeq[String] = {
    val rnd = new Random(seed)
    val texts = ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      val r = rnd.nextDouble()
      texts += (
        if (i == 0 || r < 0.45) fresh(rnd)
        else if (r < 0.75) mutate(rnd, texts(rnd.nextInt(texts.size)), 1 + rnd.nextInt(4))
        else if (r < 0.9) texts(rnd.nextInt(texts.size))
        else if (r < 0.95) "short"
        else "two words")
    }
    texts.toIndexedSeq
  }

  /** `prior` fresh docs (ids 0 until prior), then `dups` one-token edits of
    * random prior docs (J ≥ 35/41 ≈ 0.85). */
  def nearDups(seed: Long, prior: Int, dups: Int): IndexedSeq[String] = {
    val rnd = new Random(seed)
    val base = IndexedSeq.fill(prior)(fresh(rnd))
    base ++ IndexedSeq.fill(dups)(mutate(rnd, base(rnd.nextInt(prior)), 1))
  }

  /** `texts` as (doc_id, text) parquet under `dir`, read back. */
  def parquetDocs(spark: SparkSession, texts: Seq[String], dir: String): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def emptyRegistry(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(Seq(
      StructField("band", IntegerType), StructField("bh", LongType),
      StructField("rep_id", LongType))))

  /** Folds `batch`'s buckets into `registry` through parquet at `dir`. */
  def fold(spark: SparkSession, registry: DataFrame, batch: DataFrame, dir: String,
           idCol: String = "doc_id"): DataFrame = {
    Dedup.mergeMinHashRegistries(registry, Dedup.minHashBucketRegistry(batch, idCol = idCol))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** The two-pass formulation the one-pass verify replaced: the candidate
    * frame is planned twice (the verify join, and its distinct ids for a
    * semi-join over the prior docs and over batch ∪ prior shingles).
    * Default parameters and text column only. */
  def reference(newDocs: DataFrame, registry: DataFrame, priorDocs: DataFrame,
                idCol: String = "doc_id"): DataFrame = {
    val (threshold, k, bands, seed, w) = (0.8, 128, 16, 42L, 3)
    val sh = Dedup.shingleDF(newDocs, idCol, "text", w)
    val banded = Dedup.bandedMinHash(sh, k, bands, seed)
    val cross = banded
      .join(registry.select(col("band"), col("bh"), col("rep_id")), Seq("band", "bh"))
      .select(col("id"), col("rep_id").as("cand"))
    val bmin = banded.groupBy("band", "bh").agg(min(col("id")).as("cand"))
    val within = banded.join(bmin, Seq("band", "bh"))
      .select(col("id"), col("cand")).where(col("id") =!= col("cand"))
    val cand = cross.unionByName(within).distinct()
    val candIds = cand.select(col("cand")).distinct()
    val priorSh = Dedup.shingleDF(
      priorDocs.join(candIds.select(col("cand").as(idCol)), Seq(idCol), "left_semi"),
      idCol, "text", w)
    val candSide = sh.unionByName(priorSh)
      .join(candIds.select(col("cand").as("id")), Seq("id"), "left_semi")
    val verified = cand
      .join(sh.select(col("id"), col("sh").as("sh_a")), Seq("id"))
      .join(candSide.select(col("id").as("cand"), col("sh").as("sh_b")), Seq("cand"))
      .select(col("id"), col("cand"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
    val best = verified.groupBy("id")
      .agg(min_by(struct(col("cand"), col("jaccard")), col("cand")).as("m"))
      .select(col("id"), col("m.cand").as("dup_of"), col("m.jaccard").as("jaccard"))
    newDocs.select(col(idCol).as("id"))
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_of"), col("jaccard"))
      .orderBy(idCol)
  }
}

/** The driver-merged candidate pass of [[Dedup.minHashDedupAgainstRegistry]]
  * must return exactly the rows, in order, of the retained two-pass
  * reference over a seeded stream whose registry is folded through parquet
  * batch by batch, and over the edge inputs below. */
class MinHashRegistryParitySpec extends SparkSpec {
  import RegistryDedupFixtures._

  test("one-pass verify == two-pass reference, row for row, over a seeded " +
    "4-batch stream with the registry folded through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("registry_parity").toString
    val batchSize = 100
    val docs = parquetDocs(spark, stream(seed = 7L, n = 4 * batchSize), s"$dir/docs")
    // docs with id % 13 == 5 are deleted from the prior corpus but stay in
    // the registry, so some registry reps are absent from priorDocs
    val deleted = col("doc_id") % 13 === 5
    var registry = emptyRegistry(spark)
    val seen = scala.collection.mutable.Set.empty[String]
    (0 until 4).foreach { b =>
      val (lo, hi) = (b * batchSize.toLong, (b + 1) * batchSize.toLong)
      val batch = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
      val prior = docs.where(col("doc_id") < lo && !deleted)
      val got = Dedup.minHashDedupAgainstRegistry(batch, registry, prior).collect().toSeq
      val want = reference(batch, registry, prior).collect().toSeq
      assert(got.size == batchSize)
      assert(got == want, s"batch $b differs from the reference")

      // the cases the stream must cover
      if (registry.isEmpty) seen += "empty registry"
      val dupOf = got.filterNot(_.isNullAt(1)).map(r => r.getLong(0) -> r.getLong(1))
      if (dupOf.exists { case (_, d) => d >= lo }) seen += "within-batch match"
      if (dupOf.exists { case (_, d) => d < lo }) seen += "registry match"
      if (batch.where(size(split(col("text"), " ")) < 3).count() > 0) seen += "shingle-less doc"
      if (registry.where(col("rep_id") % 13 === 5).count() > 0) seen += "rep absent from prior"
      val banded = Dedup.bandedMinHash(Dedup.shingleDF(batch, "doc_id", "text", 3), 128, 16, 42L)
      val crossIds = banded.join(registry, Seq("band", "bh")).select("id")
      val withinIds = banded
        .join(banded.groupBy("band", "bh").agg(min("id").as("m")), Seq("band", "bh"))
        .where(col("id") =!= col("m")).select("id")
      if (!crossIds.intersect(withinIds).isEmpty) seen += "registry and batch candidates"

      registry = fold(spark, registry, batch, s"$dir/registry/$b")
    }
    assert(seen == Set("empty registry", "within-batch match", "registry match",
      "shingle-less doc", "rep absent from prior", "registry and batch candidates"))
  }

  test("an Int id column under a non-default name: same rows as the reference, " +
    "and dup_of keeps the id column's type against a Long-rep registry") {
    val dir = java.nio.file.Files.createTempDirectory("registry_int").toString
    val docs = parquetDocs(spark, stream(seed = 19L, n = 300), s"$dir/docs")
      .select(col("doc_id").cast(IntegerType).as("uid"), col("text"))
    // the empty registry's rep_id is Long, so every folded registry's is too
    var registry = emptyRegistry(spark)
    (0 until 3).foreach { b =>
      val batch = docs.where(col("uid") >= b * 100 && col("uid") < (b + 1) * 100)
      val prior = docs.where(col("uid") < b * 100)
      val got = Dedup.minHashDedupAgainstRegistry(batch, registry, prior, idCol = "uid")
      val want = reference(batch, registry, prior, idCol = "uid")
      assert(got.schema.map(f => f.name -> f.dataType) == Seq(
        "uid" -> IntegerType, "dup_of" -> IntegerType, "jaccard" -> DoubleType))
      // the reference's dup_of is its candidate frame's widened Long
      val wantRows = want.select(col("uid"), col("dup_of").cast(IntegerType), col("jaccard"))
        .collect().toSeq
      val gotRows = got.collect().toSeq
      assert(gotRows == wantRows, s"batch $b differs from the reference")
      if (b > 0) assert(gotRows.exists(!_.isNullAt(1)), s"batch $b dropped nothing")
      registry = fold(spark, registry, batch, s"$dir/registry/$b", idCol = "uid")
    }
  }

  test("a registry with two rows for one bucket pairs each batch member with " +
    "both reps, as the reference's join does") {
    val dir = java.nio.file.Files.createTempDirectory("registry_dup").toString
    val docs = parquetDocs(spark, stream(seed = 23L, n = 300), s"$dir/docs")
    val prior = docs.where(col("doc_id") < 200)
    // plus a batch doc with a null id whose text is a prior doc's: it has
    // registry candidates but never a match, and sorts first
    val batch = docs.where(col("doc_id") >= 200)
      .unionByName(docs.where(col("doc_id") === 5).select(lit(null).cast("long").as("doc_id"), col("text")))
    // the halves' registries, unioned without the per-bucket min fold
    val halves = Seq(0, 1).map(p =>
      Dedup.minHashBucketRegistry(prior.where(col("doc_id") % 2 === p)))
    halves.head.unionByName(halves(1)).write.mode("overwrite").parquet(s"$dir/registry")
    val registry = spark.read.parquet(s"$dir/registry")
    val twoReps = registry.groupBy("band", "bh").count().where(col("count") === 2)
    assert(!twoReps.isEmpty, "no bucket holds two registry rows")
    val hit = Dedup.bandedMinHash(Dedup.shingleDF(batch, "doc_id", "text", 3), 128, 16, 42L)
      .join(twoReps, Seq("band", "bh"))
    assert(!hit.isEmpty, "no batch doc collides with a two-rep bucket")
    val result = Dedup.minHashDedupAgainstRegistry(batch, registry, prior)
    val got = result.collect().toSeq
    assert(got == reference(batch, registry, prior).collect().toSeq)
    assert(result.schema == reference(batch, registry, prior).schema)
    assert(got.head == Row(null, null, null), "the null id is not first, unmatched")
    assert(got.exists(r => !r.isNullAt(1) && r.getLong(1) < 200), "no registry match")
  }

  test("batches with nothing to verify: all docs shingle-less, or no doc with " +
    "a candidate, give every doc a NULL dup_of, as the reference does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("registry_none").toString
    val docs = parquetDocs(spark, nearDups(seed = 29L, prior = 100, dups = 0), s"$dir/docs")
    val prior = docs.where(col("doc_id") < 60)
    val registry = fold(spark, emptyRegistry(spark), prior, s"$dir/registry")
    val fresh = docs.where(col("doc_id") >= 60)
    val shingleLess = Seq((100L, "short"), (101L, "two words"), (102L, ""))
      .toDF("doc_id", "text")
    Seq("fresh docs" -> fresh, "shingle-less docs" -> shingleLess).foreach { case (what, batch) =>
      val got = Dedup.minHashDedupAgainstRegistry(batch, registry, prior)
      val rows = got.collect().toSeq
      assert(rows.size == batch.count() && rows.forall(r => r.isNullAt(1) && r.isNullAt(2)),
        s"$what: ${rows.filterNot(_.isNullAt(1)).mkString(", ")}")
      assert(rows == reference(batch, registry, prior).collect().toSeq, what)
      assert(got.schema == reference(batch, registry, prior).schema, what)
    }
  }
}
