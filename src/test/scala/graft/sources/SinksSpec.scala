package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("ORC roundtrip preserves data; filters push down to the ORC scan") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/t"
    val df = (0L until 1000L).map(i => (i, s"v$i", i % 7)).toDF("id", "s", "grp")
    df.write.mode("overwrite").orc(dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("grp", LongType)))
    val back = Readers.readOrc(spark, dir, schema)
    assert(back.count() == 1000)
    assert(back.where(col("id") === 42L).select("s").as[String].head() == "v42")
    val q = back.where(col("grp") === 3L).select("id")
    val exec = q.queryExecution.executedPlan.toString
    // pushdown reaches the ORC scan; projection prunes to the 2 used cols
    assert(exec.contains("PushedFilters: [IsNotNull(grp), EqualTo(grp,3)]"), exec)
    assert(exec.contains("ReadSchema: struct<id:bigint,grp:bigint>"), exec)
  }

  test("Avro roundtrip: all primitive types + nulls survive the container " +
    "codec; one file per non-empty partition; reader-schema projection") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString + "/t"
    val df = spark.range(1000)
      .select(col("id"),
        when(col("id") % 7 === 0, lit(null: String))
          .otherwise(concat(lit("v"), col("id"))).as("s"),
        (col("id") % 5).cast("int").as("i"),
        (col("id") * 1.5).as("d"),
        (col("id") % 2 === 0).as("b"),
        col("id").cast("float").as("f"),
        when(col("id") % 11 === 0, lit(null).cast("binary"))
          .otherwise(encode(concat(lit("bin"), col("id")), "UTF-8")).as("bin"))
      .repartition(4)
    AvroIO.writeAvro(df, dir)
    // one container file per non-empty partition + a _SUCCESS marker
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".avro")) == 4, files.toSeq)
    assert(files.contains("_SUCCESS"))
    // attempt-isolated commit: every temp file was renamed into place
    assert(!files.exists(_.endsWith(".tmp")), files.toSeq)
    val back = AvroIO.readAvro(spark, dir, df.schema)
    assert(back.count() == 1000)
    // early-terminating reads (limit) must not leak container readers —
    // the task completion listener closes what the drain doesn't
    assert(back.limit(3).collect().length == 3)
    // value fidelity, including the nullable unions, across every type
    val exp = df.collect().map(r => r.getLong(0) ->
      (Option(r.getString(1)), r.getInt(2), r.getDouble(3), r.getBoolean(4),
        r.getFloat(5), Option(r.getAs[Array[Byte]](6)).map(_.toSeq))).toMap
    back.collect().foreach { r =>
      val (s, i, d, b, f, bin) = exp(r.getLong(0))
      assert(Option(r.getString(1)) == s && r.getInt(2) == i &&
        r.getDouble(3) == d && r.getBoolean(4) == b && r.getFloat(5) == f &&
        Option(r.getAs[Array[Byte]](6)).map(_.toSeq) == bin, s"row $r")
    }
    // reader-schema projection: a 2-field read schema decodes only those
    val slim = AvroIO.readAvro(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("s", StringType))))
    assert(slim.columns.toSeq == Seq("id", "s") && slim.count() == 1000)
    assert(slim.where(col("id") === 43L).select("s").as[String].head() == "v43")
  }

  test("readCsv quarantine is column-pruning-proof: a corrupt field in an " +
    "unreferenced column still classifies the row") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_prune")
    java.nio.file.Files.writeString(dir.resolve("part-0.csv"),
      """doc_id,source,lang
        |1,s1,en
        |2x,s1,en
        |3,s2,de
        |""".stripMargin)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("lang", StringType)))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val split = Readers.splitCorrupt(
      Readers.readCsv(spark, dir.toString, schema))
    // the downstream query touches ONLY source: with CSV column pruning the
    // malformed doc_id "2x" would never parse, the row would count as clean
    // here and quarantined elsewhere — quarantine must be a row property
    val bySource = split.clean.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySource == Map("s1" -> 1L, "s2" -> 1L))
    assert(split.bad.count() == 1)
    assert(split.bad.select("source").as[String].head() == "s1") // partial parse kept
    // the quarantined row keeps its raw record: nothing dropped, nothing failed
    assert(split.bad.select(Readers.corruptCol).as[String].head() == "2x,s1,en")
    // releasing the handle unpins the shared DISK_ONLY parse cache (delta
    // vs before: other suites in the shared session may hold caches)
    split.done()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(cachedBefore)
    assert(leaked.isEmpty, s"splitCorrupt cache still pinned after done(): $leaked")
  }

  test("zorderKey: bit interleave hand-checked on corners, axes, and a mix") {
    val df = Seq((0L, 0L), (15L, 15L), (1L, 0L), (0L, 1L), (3L, 5L))
      .toDF("bx", "by")
    val r = df.select(Sinks.zorderKey(col("bx"), col("by"), bits = 4).as("z"))
      .as[Long].collect()
    // z(3,5): bx=0011 -> bits 0,2; by=0101 -> bits 1,5 => 1+4+2+32 = 39
    assert(r.toSeq == Seq(0L, 255L, 1L, 2L, 39L))
    // z-sorting clusters both dimensions: any 4-cell quadrant occupies a
    // contiguous zkey block of exactly 4 (locality the footer stats exploit)
    val all = (0 until 16).flatMap(x => (0 until 16).map(y => (x.toLong, y.toLong)))
      .toDF("bx", "by")
      .select(col("bx"), col("by"),
        Sinks.zorderKey(col("bx"), col("by"), bits = 4).as("z"))
      .as[(Long, Long, Long)].collect()
    assert(all.map(_._3).sorted.toSeq == (0L until 256L).toSeq)
    all.groupBy { case (x, y, _) => (x / 2, y / 2) }.foreach { case (_, cells) =>
      val zs = cells.map(_._3).sorted
      assert(zs.length == 4 && zs.last - zs.head == 3)
    }
  }

}
