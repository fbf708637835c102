package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress data generator: replicates the driver's sf0.1 tables
  * `reps`× into a larger, schema-identical star (default ~sf1) so the
  * bench can measure per-query growth vs data volume — the empirical check
  * behind every "scale-safe" plan claim. The driver testdata is read-only
  * and capped at sf0.1, so the stress set lives under `target/`.
  *
  * Replication is deterministic and key-consistent: every key column
  * offsets by `rep * (max_key + 1)` with the SAME stride on both sides of
  * each FK edge (lineitem⋈orders⋈customer, lineitem⋈part/supplier), so
  * join fan-outs scale exactly linearly and query RESULTS are predictable
  * multiples of the sf0.1 results where aggregation keys are preserved.
  * Dims (nation, region) stay fixed — at 100 TB the dims stay broadcast
  * -sized while facts grow, and the generator mirrors that. Document text
  * gets a per-replica suffix token (replicas must not be exact dups — a
  * 10× corpus of pure dups measures the dedup fast path, not scale);
  * embeddings get a tiny per-replica component shift for the same reason.
  *
  * Usage: `runMain graft.tools.ScaleGen [srcDir] [outDir] [reps] [tables]
  * [splits]` — `tables` is an optional comma list (e.g.
  * `documents,embeddings`) restricting output to the named tables, for
  * decade sweeps that only stress one family (generating an 11 GB
  * lineitem to measure a documents-only dedup tier is wasted disk and
  * wall). `splits` (default 64) is the fact-table output file count:
  * a replicated table otherwise lands as ONE parquet file / one row
  * group, so every sf100 scan-heavy measurement ran single-threaded
  * (r12 verdict #2) — a 100 TB table is thousands of splits, and the
  * fixture must look like one. Dims stay verbatim single-file. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/scaledata/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val splits = args.lift(4).map(_.toInt).getOrElse(64)
    // some fixture generations carry TIMESTAMP(NANOS) in events.parquet;
    // the conf lets those read as long (no-op for micros fixtures) — ts
    // passes through untouched either way, so the output keeps the source's
    // physical type and Readers.readEvents normalizes on read
    val spark = graft.Session.local("graft-scalegen",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    run(spark, src, out, reps, only, splits)
    spark.stop()
  }

  /** Session-agnostic body (ScaleGenSpec drives it on the test session;
    * the session must set spark.sql.legacy.parquet.nanosAsLong=true). */
  def run(spark: SparkSession, src: String, out: String, reps: Int,
          only: Option[Set[String]] = None, splits: Int = 64): Unit = {
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // fact tables repartition to `splits` files so scans parallelize like a
    // real multi-split table; dims (5/25 rows) stay verbatim single-file
    def write(df: DataFrame, name: String): Unit = {
      val d = if (name == "region" || name == "nation") df
              else df.repartition(splits)
      d.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    // strides computed on the SOURCE tables so both sides of an FK agree;
    // cast-to-long tolerates int-typed keys and the require turns an empty
    // table / all-null key into a named failure instead of a bare NPE
    def stride(name: String, key: String): Long = {
      val r = read(name).agg(max(col(key).cast("long"))).head()
      require(!r.isNullAt(0),
        s"[scalegen] $name.$key is empty or all-null — cannot derive a key stride")
      r.getLong(0) + 1L
    }

    // lazy: a `tables=documents,embeddings` run must not scan (or require
    // the presence of) the star tables it never emits
    lazy val oStride = stride("orders", "o_orderkey")
    lazy val cStride = stride("customer", "c_custkey")
    lazy val pStride = stride("part", "p_partkey")
    lazy val sStride = stride("supplier", "s_suppkey")

    def reps10(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(reps).select(col("id").as("__rep")))

    def bump(c: String, strideV: Long) =
      (col(c) + col("__rep") * lit(strideV)).as(c)

    def emit(name: String, df: => DataFrame): Unit = if (wanted(name)) {
      write(df.drop("__rep"), name)
      println(s"[scalegen] $name -> ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dims: copied verbatim (broadcast-sized at any scale)
    emit("region", read("region"))
    emit("nation", read("nation"))

    emit("customer", reps10(read("customer"))
      .withColumn("c_custkey", bump("c_custkey", cStride)))
    emit("supplier", reps10(read("supplier"))
      .withColumn("s_suppkey", bump("s_suppkey", sStride)))
    emit("part", reps10(read("part"))
      .withColumn("p_partkey", bump("p_partkey", pStride)))
    emit("orders", reps10(read("orders"))
      .withColumn("o_orderkey", bump("o_orderkey", oStride))
      .withColumn("o_custkey", bump("o_custkey", cStride)))
    emit("lineitem", reps10(read("lineitem"))
      .withColumn("l_orderkey", bump("l_orderkey", oStride))
      .withColumn("l_partkey", bump("l_partkey", pStride))
      .withColumn("l_suppkey", bump("l_suppkey", sStride)))

    lazy val eStride = stride("events", "event_id")
    lazy val uStride = stride("events", "user_id")
    emit("events", reps10(read("events"))
      .withColumn("event_id", bump("event_id", eStride))
      .withColumn("user_id", bump("user_id", uStride)))

    lazy val dStride = stride("documents", "doc_id")
    emit("documents", reps10(read("documents"))
      .withColumn("doc_id", bump("doc_id", dStride))
      // distinct replica token: replicas are near-dups, not exact dups
      .withColumn("text", concat(col("text"), lit(" qrep"), col("__rep")))
      .withColumn("n_chars", length(col("text")).cast("long")))

    lazy val vStride = stride("embeddings", "vec_id")
    emit("embeddings", reps10(read("embeddings"))
      .withColumn("vec_id", bump("vec_id", vStride))
      // tiny deterministic per-replica shift: not exact dup vectors
      .withColumn("embedding",
        transform(col("embedding"), x => x + col("__rep").cast("float") * lit(0.001f))))

    println(s"[scalegen] done: $out (reps=$reps from $src)")
  }
}
