package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Arrow IPC file contracts (the AvroIoSpec battery on the columnar
  * format): write∘read identity over the full supported type surface
  * (incl. nulls, binary, array<float> — the embeddings shape), schema
  * fidelity from the footer, multi-batch files, quarantine rules
  * (non-Arrow file empty; truncation keeps decoded batches; a
  * schema-mismatched file never positionally transposes), and the loud
  * refusal beyond the type surface — and pyarrow interop in both
  * directions when pyarrow is importable. */
class ArrowIoSpec extends SparkSpec {

  test("roundtrip preserves every supported type, null markers, and " +
    "field order; nullability survives the footer") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("small", IntegerType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("ratio", FloatType, nullable = true),
      StructField("flag", BooleanType, nullable = false),
      StructField("blob", BinaryType, nullable = true),
      StructField("vec", ArrayType(FloatType, containsNull = false),
        nullable = true)))
    val rows = Seq(
      Row(1L, 7, "alpha", 1.5, 0.5f, true, Array[Byte](1, 2, 3),
        Seq(0.25f, -1.0f)),
      Row(2L, null, null, null, null, false, null, null),
      Row(3L, -1, "gamma", -0.0, -0.0f, true, Array.emptyByteArray,
        Seq.empty[Float]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tempDir("arrow_rt").toString
    assert(ArrowIo.writeArrow(df, dir, numFiles = 2) === 3L)
    val back = ArrowIo.readArrow(spark, dir)
    assert(back.schema === schema)
    val got = back.orderBy("id").collect()
    assert(got.length === 3)
    assert(got(0).getLong(0) === 1L && got(0).getInt(1) === 7
      && got(0).getString(2) === "alpha" && got(0).getFloat(4) === 0.5f)
    assert(got(0).getAs[Array[Byte]]("blob").toSeq === Seq[Byte](1, 2, 3))
    assert(got(0).getAs[scala.collection.Seq[Float]]("vec").toSeq
      === Seq(0.25f, -1.0f))
    assert(got(1).isNullAt(1) && got(1).isNullAt(2) && got(1).isNullAt(3)
      && got(1).isNullAt(4) && got(1).isNullAt(6) && got(1).isNullAt(7))
    assert(got(2).getAs[Array[Byte]]("blob").isEmpty
      && got(2).getAs[scala.collection.Seq[Float]]("vec").isEmpty)
  }

  test("null LIST ELEMENTS roundtrip (containsNull surface is " +
    "write-read symmetric)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = true),
        nullable = true)))
    val rows = Seq(
      Row(1L, Seq(1.5f, null, -2.5f)),
      Row(2L, Seq(null, null)),
      Row(3L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val dir = tempDir("arrow_nullel").toString
    assert(ArrowIo.writeArrow(df, dir, numFiles = 1) === 3L)
    val got = ArrowIo.readArrow(spark, dir).orderBy("id").collect()
    assert(got(0).getAs[scala.collection.Seq[Any]]("vec").toSeq
      === Seq(1.5f, null, -2.5f))
    assert(got(1).getAs[scala.collection.Seq[Any]]("vec").toSeq
      === Seq(null, null))
    assert(got(2).isNullAt(1))
  }

  test("a file larger than one record batch roundtrips across the " +
    "batch boundary (4096-row batches)") {
    import SparkSpec.spark.implicits._
    val n = 10000L
    val df = (0L until n).map(i => (i, s"r$i")).toDF("id", "v")
    val dir = tempDir("arrow_multi").toString
    assert(ArrowIo.writeArrow(df, dir, numFiles = 1) === n)
    val back = ArrowIo.readArrow(spark, dir)
    assert(back.count() === n)
    assert(back.agg(sum("id")).head.getLong(0) === n * (n - 1) / 2)
  }

  test("embeddings table roundtrips exactly (the array<float> corpus " +
    "shape)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 50)
    val dir = tempDir("arrow_emb").toString
    ArrowIo.writeArrow(emb, dir, numFiles = 3)
    val back = ArrowIo.readArrow(spark, dir)
    assert(back.count() === emb.count())
    // exact float equality: the IPC file stores IEEE floats verbatim
    assert(back.unionByName(emb).distinct().count() === emb.count())
  }

  test("a non-Arrow file quarantines whole; a valid sibling still reads") {
    val dir = tempDir("arrow_corrupt")
    import SparkSpec.spark.implicits._
    ArrowIo.writeArrow(Seq((1L, "x")).toDF("id", "v"), dir.toString,
      numFiles = 1)
    Files.write(dir.resolve("junk.arrow"), "definitely not arrow".getBytes)
    val got = ArrowIo.readArrow(spark, dir.toString).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("a truncated file quarantines (the footer is gone) — the random-" +
    "access format's all-or-nothing contract, unlike Avro's sync blocks") {
    val dir = tempDir("arrow_trunc")
    val good = tempDir("arrow_good")
    import SparkSpec.spark.implicits._
    val n = 10000L
    val df = (0L until n).map(i => (i, s"row_$i")).toDF("id", "v")
    ArrowIo.writeArrow(df, good.toString, numFiles = 1)
    val f = Files.list(good).toArray.map(_.toString)
      .filter(_.endsWith(".arrow")).head
    val bytes = Files.readAllBytes(Paths.get(f))
    Files.write(dir.resolve("part_00000.arrow"),
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length * 3 / 5))
    // footer truncated away -> the whole file quarantines; a valid
    // sibling still reads (drop-vs-transpose, never corrupt rows)
    val sib = tempDir("arrow_sib")
    ArrowIo.writeArrow(Seq((777777L, "ok")).toDF("id", "v"),
      sib.toString, numFiles = 1)
    val sf = Files.list(sib).toArray.map(_.toString)
      .filter(_.endsWith(".arrow")).head
    Files.copy(Paths.get(sf), dir.resolve("part_sibling.arrow"))
    val got = ArrowIo.readArrow(spark, dir.toString).collect()
    assert(got.map(_.getLong(0)).toSet === Set(777777L))
  }

  test("a file with a DIFFERENT embedded schema quarantines whole " +
    "instead of positionally transposing values") {
    val dir = tempDir("arrow_mixed")
    import SparkSpec.spark.implicits._
    ArrowIo.writeArrow(Seq((1L, "x")).toDF("id", "v"), dir.toString,
      numFiles = 1)
    val other = tempDir("arrow_other")
    ArrowIo.writeArrow(Seq(("y", 2L)).toDF("v", "id"), other.toString,
      numFiles = 1)
    val src = Files.list(other).toArray.map(_.toString)
      .filter(_.endsWith(".arrow")).head
    Files.copy(Paths.get(src), dir.resolve("part_zz.arrow"))
    val got = ArrowIo.readArrow(spark, dir.toString).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("decodeBlobs ≡ readArrow on the same directory, corrupt file " +
    "included — the streamed and batch decode paths cannot drift") {
    val dir = tempDir("arrow_parity")
    import SparkSpec.spark.implicits._
    ArrowIo.writeArrow(
      Seq((1L, "x"), (2L, "y"), (3L, null: String)).toDF("id", "v"),
      dir.toString, numFiles = 2)
    Files.write(dir.resolve("junk.arrow"), "nope".getBytes)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val batch = ArrowIo.readArrow(spark, dir.toString)
    val schemaJson = ArrowIo.schemaJsonOf(spark, dir.toString)
    val blobs = ArrowIo.decodeBlobs(
      spark.read.format("binaryFile").load(dir.toString)
        .filter(col("path").endsWith(".arrow")), schemaJson)
    assert(canon(blobs) === canon(batch))
    assert(batch.count() === 3)
  }

  test("re-write with fewer partitions clears stale higher-numbered parts") {
    import SparkSpec.spark.implicits._
    val dir = tempDir("arrow_rw").toString
    def parts = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".arrow"))
    }
    ArrowIo.writeArrow((1L to 40L).toDF("id"), dir, numFiles = 4)
    assert(parts === 4)
    // fewer partitions: without the pre-write clear, part_00002/3 from
    // the first write would survive and readArrow would mix both runs
    ArrowIo.writeArrow((100L to 109L).toDF("id"), dir, numFiles = 2)
    assert(parts === 2)
    val back = ArrowIo.readArrow(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === (100L to 109L).toSeq)
  }

  test("types outside the surface refuse loudly at write") {
    import SparkSpec.spark.implicits._
    val df = Seq((1L, Map("k" -> 1))).toDF("id", "m")
    val e = intercept[IllegalArgumentException] {
      ArrowIo.writeArrow(df, tempDir("arrow_bad").toString)
    }
    assert(e.getMessage.contains("unsupported Spark type"))
  }

  test("timestamp-micros and decimal logical types roundtrip exactly " +
      "(pre-epoch, sub-second, negative and null cells included)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = true),
      StructField("amt", DecimalType(14, 4), nullable = true)))
    def ts(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val rows = Seq(
      Row(1L, ts(1234567890123456L), new java.math.BigDecimal("1234567890.1234")),
      Row(2L, ts(-987654321L), new java.math.BigDecimal("-0.0001")),
      Row(3L, null, null),
      Row(4L, ts(0L), new java.math.BigDecimal("0.0000")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tempDir("arrow_logical").toString
    ArrowIo.writeArrow(df, dir, numFiles = 2)
    val back = ArrowIo.readArrow(spark, dir)
    assert(back.schema === schema)
    val got = back.orderBy("id").collect()
    assert(got(0).getTimestamp(1) === ts(1234567890123456L))
    assert(got(0).getDecimal(2) === new java.math.BigDecimal("1234567890.1234"))
    assert(got(1).getTimestamp(1) === ts(-987654321L)) // pre-epoch floor
    assert(got(1).getDecimal(2) === new java.math.BigDecimal("-0.0001"))
    assert(got(2).isNullAt(1) && got(2).isNullAt(2))
    assert(got(3).getTimestamp(1) === ts(0L))
  }

  test("a crashed re-write leaves the previous generation fully readable " +
      "(staged files are invisible until the driver swap)") {
    import SparkSpec.spark.implicits._
    val dir = tempDir("arrow_crash").toString
    ArrowIo.writeArrow((1L to 20L).toDF("id"), dir, numFiles = 2)
    // simulate a job that died mid-write: staged files exist, the swap
    // never ran — readers must see ONLY the old generation (the old
    // discipline mixed generations or lost files here)
    val gen = java.nio.file.Paths.get(dir, ".gen")
    java.nio.file.Files.createDirectories(gen)
    val live = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".arrow")).head
    java.nio.file.Files.copy(Paths.get(live),
      gen.resolve("part_00099.arrow"))
    val back = ArrowIo.readArrow(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === (1L to 20L).toSeq,
      "staged (unpublished) files must never reach readers")
    // the next successful write clears the crashed staging and swaps in
    // exactly its own generation
    ArrowIo.writeArrow((100L to 104L).toDF("id"), dir, numFiles = 1)
    assert(!java.nio.file.Files.exists(gen))
    val after = ArrowIo.readArrow(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after === (100L to 104L).toSeq)
  }

  /** Run a python3 snippet with args; (exit code, stdout + stderr). */
  private def python(script: String, args: String*): (Int, String) = {
    val p = new ProcessBuilder((Seq("python3", "-c", script) ++ args): _*)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  test("pyarrow reads a Spark-written file and Spark reads a pyarrow-" +
      "written one (timestamp-micros, decimal(14,4), array<float>)") {
    assume(scala.util.Try(python("import pyarrow")._1 == 0).getOrElse(false),
      "pyarrow not importable")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = true),
      StructField("amt", DecimalType(14, 4), nullable = true),
      StructField("vec", ArrayType(FloatType, containsNull = false),
        nullable = true)))
    val rows = Seq(
      Row(1L, new java.sql.Timestamp(1000L), new java.math.BigDecimal("0.2500"),
        Seq(0.5f, 1.5f)),
      Row(2L, null, new java.math.BigDecimal("-12.0001"), Seq(2.5f)),
      Row(3L, new java.sql.Timestamp(-2000L), null, null))
    val sparkDir = tempDir("arrow_to_pyarrow").toString
    ArrowIo.writeArrow(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema), sparkDir, numFiles = 2)
    val (readCode, readOut) = python(
      """import glob, sys, pyarrow as pa, pyarrow.ipc as ipc
        |t = pa.concat_tables([ipc.open_file(f).read_all() for f in
        |     sorted(glob.glob(sys.argv[1] + "/*.arrow"))]).sort_by("id")
        |assert t.schema.field("ts").type == pa.timestamp("us", tz="UTC"), t.schema
        |assert t.schema.field("amt").type == pa.decimal128(14, 4), t.schema
        |assert t.schema.field("vec").type.value_type == pa.float32(), t.schema
        |ts = t.column("ts").cast(pa.int64()).to_pylist()
        |print("ROWS", t.column("id").to_pylist(), ts,
        |      [None if a is None else str(a) for a in t.column("amt").to_pylist()],
        |      t.column("vec").to_pylist())
        |""".stripMargin, sparkDir)
    assert(readCode === 0, readOut)
    assert(readOut.trim === "ROWS [1, 2, 3] [1000000, None, -2000000] " +
      "['0.2500', '-12.0001', None] [[0.5, 1.5], [2.5], None]")

    val pyDir = tempDir("pyarrow_to_arrow")
    val (writeCode, writeOut) = python(
      """import decimal, sys, pyarrow as pa, pyarrow.ipc as ipc
        |schema = pa.schema([pa.field("id", pa.int64(), nullable=False),
        |                    ("ts", pa.timestamp("us", tz="UTC")),
        |                    ("amt", pa.decimal128(14, 4)),
        |                    ("vec", pa.list_(pa.float32()))])
        |t = pa.table({"id": [7, 8],
        |              "ts": [1234567, None],
        |              "amt": [decimal.Decimal("3.1416"), None],
        |              "vec": [[0.25, -1.0], None]}, schema=schema)
        |with ipc.new_file(sys.argv[1] + "/part_00000.arrow", schema) as w:
        |    w.write_table(t)
        |""".stripMargin, pyDir.toString)
    assert(writeCode === 0, writeOut)
    val back = ArrowIo.readArrow(spark, pyDir.toString).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq === Seq(7L, 8L))
    val ts = new java.sql.Timestamp(1234L)
    ts.setNanos(234567000)
    assert(back(0).getTimestamp(1) === ts)
    assert(back(0).getDecimal(2) === new java.math.BigDecimal("3.1416"))
    assert(back(0).getAs[scala.collection.Seq[Float]]("vec").toSeq
      === Seq(0.25f, -1.0f))
    assert(back(1).isNullAt(1) && back(1).isNullAt(2) && back(1).isNullAt(3))
  }
}
