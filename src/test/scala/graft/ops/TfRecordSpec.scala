package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.queries.Scratch

/** [X] TFRecord interchange: proto wire format pinned byte-for-byte,
  * CRC framing, full type-mapped round trip, and the ShardSink commit
  * protocol (loud refusal of corrupt/partial corpora).
  */
class TfRecordSpec extends SparkSpec {
  import spark.implicits._
  import TfRecord.{Bts, F32s, I64s}

  test("encodeExample: golden bytes of {'a': int64_list [1]} (hand-derived)") {
    // Int64List: 0A 01 01 (packed field 1, one varint)
    // Feature:   1A 03 <that> (int64_list = field 3)
    // map entry: 0A 01 61 (key "a") 12 05 <feature>
    // Features:  0A 0A <entry> ; Example: 0A 0C <features>
    val want = Array(0x0A, 0x0C, 0x0A, 0x0A, 0x0A, 0x01, 0x61, 0x12, 0x05,
      0x1A, 0x03, 0x0A, 0x01, 0x01).map(_.toByte)
    TfRecord.encodeExample(Seq("a" -> I64s(Seq(1L)))) shouldBe want
  }

  test("encode/decode: every kind, negative longs, UTF-8, empties") {
    val feats = Seq(
      "neg" -> I64s(Seq(-1L, Long.MinValue, 0L, 300L)), // 10-byte varints
      "f" -> F32s(Seq(1.5f, -0.0f, Float.NaN)),
      "s" -> Bts(Seq("héllo ☃".getBytes("UTF-8"), Array.empty[Byte])),
      "empty_i" -> I64s(Nil),
      "empty_f" -> F32s(Nil),
      "empty_b" -> Bts(Nil))
    val back = TfRecord.decodeExample(TfRecord.encodeExample(feats))
    back("neg") shouldBe I64s(Seq(-1L, Long.MinValue, 0L, 300L))
    val F32s(fv) = back("f"): @unchecked
    fv(0) shouldBe 1.5f
    (1.0f / fv(1)) shouldBe Float.NegativeInfinity // -0.0 preserved
    fv(2).isNaN shouldBe true
    val Bts(bv) = back("s"): @unchecked
    new String(bv(0), "UTF-8") shouldBe "héllo ☃"
    bv(1).length shouldBe 0
    back("empty_i") shouldBe I64s(Nil)
    back("empty_f") shouldBe F32s(Nil)
    back("empty_b") shouldBe Bts(Nil)
  }

  test("framing: records stream back in order; flipped byte fails loudly") {
    val out = new ByteArrayOutputStream()
    val payloads = Seq("first".getBytes, "second-longer".getBytes,
      Array.empty[Byte])
    payloads.foreach(TfRecord.writeFramed(out, _))
    val bytes = out.toByteArray
    TfRecord.readFramed(new ByteArrayInputStream(bytes)).toSeq
      .map(new String(_)) shouldBe Seq("first", "second-longer", "")
    // corrupt one payload byte -> data CRC mismatch
    val corrupt = bytes.clone()
    corrupt(13) = (corrupt(13) ^ 0x40).toByte // inside "first"'s data
    val ex = intercept[IllegalArgumentException] {
      TfRecord.readFramed(new ByteArrayInputStream(corrupt)).toSeq
    }
    ex.getMessage should include("CRC")
    // truncated mid-record -> EOF, not a silent partial corpus
    intercept[java.io.EOFException] {
      TfRecord.readFramed(
        new ByteArrayInputStream(bytes.take(bytes.length - 3))).toSeq
    }
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("flags", BooleanType),
    StructField("toks", ArrayType(LongType)),
    StructField("emb", ArrayType(FloatType)),
    StructField("raw", BinaryType)))

  private def sampleDf = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1L, "alpha", true, Seq(1L, -2L, 3L), Seq(0.5f, -1.25f),
        Array[Byte](0, 1, 2)),
      Row(2L, "héllo ☃", false, Seq.empty[Long], Seq.empty[Float],
        Array.empty[Byte]),
      Row(3L, "", true, Seq(Long.MaxValue), Seq(3.125f), Array[Byte](-1))),
    schema)

  test("DataFrame round trip: shards + manifest + every type") {
    Scratch.withTempDir("graft_tfr_") { tmp =>
      val dir = tmp.toString
      TfRecord.write(sampleDf, dir, shards = 2)
      val names = Files.list(Paths.get(dir)).iterator()
      val listed = scala.jdk.CollectionConverters.IteratorHasAsScala(names)
        .asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")) // Hadoop local-FS .crc sidecars
        .toSet
      listed shouldBe Set("_SUCCESS", "part-00000.tfrecord", "part-00001.tfrecord")
      new String(Files.readAllBytes(Paths.get(dir, "_SUCCESS")), "UTF-8") shouldBe
        "part-00000.tfrecord\npart-00001.tfrecord\n"
      val back = TfRecord.read(spark, dir, schema)
        .collect().sortBy(_.getLong(0))
      back.length shouldBe 3
      val r1 = back(0)
      r1.getString(1) shouldBe "alpha"
      r1.getBoolean(2) shouldBe true
      r1.getSeq[Long](3) shouldBe Seq(1L, -2L, 3L)
      r1.getSeq[Float](4) shouldBe Seq(0.5f, -1.25f)
      r1.getAs[Array[Byte]](5).toSeq shouldBe Seq[Byte](0, 1, 2)
      val r2 = back(1)
      r2.getString(1) shouldBe "héllo ☃"
      r2.getSeq[Long](3) shouldBe Seq.empty
      r2.getSeq[Float](4) shouldBe Seq.empty
      r2.getAs[Array[Byte]](5).length shouldBe 0
      back(2).getSeq[Long](3) shouldBe Seq(Long.MaxValue)
    }
  }

  test("read refuses partial corpora; write refuses doubles; scalar misuse is loud") {
    Scratch.withTempDir("graft_tfr_bad_") { d =>
      val dir = d.toString
      TfRecord.write(sampleDf, dir, shards = 1)
      // leftover temp -> refuse
      val tmp = Paths.get(dir, ShardSink.TmpPrefix + "00000-99")
      Files.write(tmp, Array[Byte](1))
      intercept[IllegalArgumentException] {
        TfRecord.read(spark, dir, schema).collect()
      }.getMessage should include("uncommitted")
      Files.delete(tmp)
      // manifest-listed shard missing -> refuse
      Files.move(Paths.get(dir, "part-00000.tfrecord"),
        Paths.get(dir, "part-00000.tfrecord.bak"))
      intercept[IllegalArgumentException] {
        TfRecord.read(spark, dir, schema).collect()
      }.getMessage should include("absent")
      Files.move(Paths.get(dir, "part-00000.tfrecord.bak"),
        Paths.get(dir, "part-00000.tfrecord"))
      // double column -> driver-side refusal before any job runs
      intercept[IllegalArgumentException] {
        TfRecord.write(sampleDf.withColumn("bad", lit(1.0)), dir, 1)
      }.getMessage should include("float32")
      // schema asks scalar where the feature is a list -> loud
      val scalarToks = StructType(Seq(StructField("doc_id", LongType),
        StructField("toks", LongType)))
      val err = intercept[org.apache.spark.SparkException] {
        TfRecord.read(spark, dir, scalarToks).collect()
      }
      err.getMessage should include("scalar")
      // missing feature -> loud
      val extra = StructType(Seq(StructField("nope", LongType)))
      intercept[org.apache.spark.SparkException] {
        TfRecord.read(spark, dir, extra).collect()
      }.getMessage should include("missing feature")
    }
  }
}
