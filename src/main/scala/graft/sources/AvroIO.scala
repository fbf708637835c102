package graft.sources

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** Avro Object Container File source + sink built directly on avro-core
  * (`DataFileWriter`/`DataFileReader`) — this distribution ships the Avro
  * runtime but NOT the `spark-avro` datasource module, so the fourth
  * mainstream format goes through the same pattern as the multimodal
  * codec boundary: a declared `mapPartitions`/`foreachPartition` exception
  * where no Catalyst expression can express a container codec
  * (SURVEY §2.2 sources/sinks).
  *
  * Scale shape:
  *   - WRITE is one file per partition via the Hadoop FileSystem API
  *     (executor-side, streams records — never buffers a partition),
  *     deflate-compressed; file count = upstream partitioning, so
  *     `repartition(n)`/`repartitionByRange(n, key)` sizing composes in
  *     front of it.
  *   - READ parallelizes per FILE through the `binaryFile` front door
  *     (container decode needs the header's schema + sync markers, so the
  *     natural split unit is the file; real Avro pipelines size files to
  *     ~block size for exactly this reason). Column PRUNING happens inside
  *     the decoder: only fields present in the requested read schema are
  *     converted (Avro's reader-schema projection skips the rest), and the
  *     heavy `content` byte column never outlives the decode iterator.
  *
  * Type mapping (both directions, nullable ⇔ union[null, T]):
  * long/int/double/float/boolean/string/binary — the Avro primitive set;
  * nested records are out of declared scope (the engine's tables are flat).
  */
object AvroIO {

  /** Avro record schema mirroring a flat Spark StructType. */
  def avroSchemaFor(schema: StructType, name: String = "row"): ASchema = {
    val fields = schema.fields.map { f =>
      val base = f.dataType match {
        case LongType    => ASchema.create(ASchema.Type.LONG)
        case IntegerType => ASchema.create(ASchema.Type.INT)
        case DoubleType  => ASchema.create(ASchema.Type.DOUBLE)
        case FloatType   => ASchema.create(ASchema.Type.FLOAT)
        case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
        case StringType  => ASchema.create(ASchema.Type.STRING)
        case BinaryType  => ASchema.create(ASchema.Type.BYTES)
        case other => throw new IllegalArgumentException(
          s"AvroIO supports flat primitive schemas; field ${f.name} has $other")
      }
      val t = if (f.nullable)
        ASchema.createUnion(java.util.List.of(ASchema.create(ASchema.Type.NULL), base))
      else base
      new ASchema.Field(f.name, t, null, null)
    }
    ASchema.createRecord(name, null, "graft", false, fields.toList.asJava)
  }

  /** Write `df` as one `.avro` container file per partition under `dir`
    * (executor-side streaming write through the Hadoop FS API — works on
    * any FileSystem the cluster mounts, not just file://). Overwrites the
    * directory. Empty partitions produce no file. */
  def writeAvro(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    val avroJson = avroSchemaFor(schema).toString // Schema isn't serializable pre-1.9; ship JSON
    val confB = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val out = new Path(dir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val aSchema = new ASchema.Parser().parse(avroJson)
        val tc = TaskContext.get()
        val pid = tc.partitionId()
        val file = new Path(dir, f"part-$pid%05d.avro")
        // attempt-isolated commit, mirroring the Hadoop committer protocol:
        // write to a per-ATTEMPT temp name and rename into place only on
        // success. Writing the final name directly (with overwrite) would
        // let a speculative or zombie attempt interleave with a retry on
        // the same destination and leave a torn container file that
        // _SUCCESS (job-level) does not guard against; rename is atomic on
        // HDFS-like filesystems and the retry simply clobbers a loser's
        // leftover temp file.
        val tmp = new Path(dir,
          f".part-$pid%05d-attempt-${tc.taskAttemptId()}.avro.tmp")
        val pfs = file.getFileSystem(confB.value.value)
        val os = pfs.create(tmp, true)
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](aSchema))
        w.setCodec(CodecFactory.deflateCodec(6))
        w.create(aSchema, os)
        var committed = false
        try {
          rows.foreach { r =>
            val rec = new GenericData.Record(aSchema)
            var i = 0
            while (i < schema.length) {
              rec.put(i, if (r.isNullAt(i)) null else schema(i).dataType match {
                case BinaryType => java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](i))
                case _ => r.get(i)
              })
              i += 1
            }
            w.append(rec)
          }
          w.close() // closes the underlying stream too
          pfs.delete(file, false) // a previous attempt's file, if any
          if (!pfs.rename(tmp, file))
            throw new java.io.IOException(s"rename $tmp -> $file failed")
          committed = true
        } finally {
          if (!committed) {
            try w.close() catch { case _: Throwable => () } // idempotent
            try pfs.delete(tmp, false) catch { case _: Throwable => () }
          }
        }
      }
    }
    // commit marker, matching the parquet committer convention consumers
    // key committedness on
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  /** Read `.avro` container files under `path` into rows of `schema`
    * (reader-schema projection: fields absent from `schema` are never
    * converted). File-parallel through the binaryFile front door. */
  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val avroJson = avroSchemaFor(schema).toString
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro")
      .load(path)
      .select("content")
    files.mapPartitions { parts =>
      val readerSchema = new ASchema.Parser().parse(avroJson)
      parts.flatMap { fileRow =>
        val bytes = fileRow.getAs[Array[Byte]](0)
        val rd = new DataFileReader[GenericRecord](
          new SeekableByteArrayInput(bytes),
          new GenericDatumReader[GenericRecord](null, readerSchema))
        // drain-close alone leaks the reader (and its deflate decompressor)
        // under a downstream limit()/early-terminating operator; the task
        // completion listener closes whatever the drain didn't (idempotent)
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          try rd.close() catch { case _: java.io.IOException => () }
        })
        new Iterator[Row] {
          def hasNext: Boolean = { val h = rd.hasNext; if (!h) rd.close(); h }
          def next(): Row = {
            val rec = rd.next()
            Row.fromSeq((0 until schema.length).map { i =>
              rec.get(i) match {
                case null => null
                case u: Utf8 => u.toString
                case b: java.nio.ByteBuffer =>
                  val a = new Array[Byte](b.remaining()); b.get(a); a
                case v => v
              }
            })
          }
        }
      }
    }(Encoders.row(schema))
  }
}
