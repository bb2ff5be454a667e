package graft.storage

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.SparkSpec

/** The Delta bridge: an exported snapshot must (a) read back identically
  * with a plain parquet reader, (b) carry a structurally valid first
  * Delta commit — protocol, metaData whose schemaString parses to the
  * exported schema, and one add per data file with the real on-disk
  * size — the three mandatory actions of delta.io PROTOCOL.md's v0
  * snapshot.
  */
class DeltaInteropSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def logActions(outDir: String) = {
    val commit = Paths.get(outDir, "_delta_log", "00000000000000000000.json")
    assert(Files.exists(commit), "first commit file must exist")
    Files.readAllLines(commit).asScala.filter(_.nonEmpty)
      .map(mapper.readTree(_)).toSeq
  }

  test("append table: files copied verbatim, log adds match disk, parquet read-back equal") {
    val table = tmp("delta_src_") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.parquet(table + "_w1")
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    VersionedTable.append(table)(dir =>
      Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(dir))

    val out = tmp("delta_out_")
    val rels = DeltaInterop.exportSnapshot(spark, table, out)
    assert(rels.size == 2, "one copied file per committed segment")

    // plain parquet read-back: same rows (the _delta_log dir is hidden)
    val got = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))

    val actions = logActions(out)
    val protocol = actions.flatMap(a => Option(a.get("protocol")))
    assert(protocol.size == 1 && protocol.head.get("minReaderVersion").asInt() == 1)
    val meta = actions.flatMap(a => Option(a.get("metaData")))
    assert(meta.size == 1)
    val schema = DataType.fromJson(meta.head.get("schemaString").asText())
      .asInstanceOf[StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "v"))
    assert(meta.head.get("format").get("provider").asText() == "parquet")
    val adds = actions.flatMap(a => Option(a.get("add")))
    assert(adds.size == 2)
    adds.foreach { add =>
      val p = Paths.get(out, add.get("path").asText())
      assert(Files.exists(p), s"add.path must exist: $p")
      assert(Files.size(p) == add.get("size").asLong(), "add.size must match disk")
      assert(add.get("dataChange").asBoolean())
    }
    assert(adds.map(_.get("path").asText()).toSet == rels.toSet)
  }

  test("upsert table: the exported snapshot is the MERGED view") {
    val table = tmp("delta_ups_") + "/t"
    def w(df: org.apache.spark.sql.DataFrame)(dir: String): Unit =
      df.coalesce(1).write.parquet(dir)
    VersionedTable.upsert(spark, table, Seq("id"),
      compactWrite = (df, dir) => w(df)(dir))(
      w(Seq((1L, "old"), (2L, "keep")).toDF("id", "v")))
    VersionedTable.upsert(spark, table, Seq("id"),
      compactWrite = (df, dir) => w(df)(dir))(
      w(Seq((1L, "new")).toDF("id", "v")))

    val out = tmp("delta_out_ups_")
    DeltaInterop.exportSnapshot(spark, table, out)
    val got = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "new"), (2L, "keep")),
      "export must serve latest-wins merged rows, not raw segment rows")
    // merged view must also equal VersionedTable.read exactly
    val vt = VersionedTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == vt)
    val adds = logActions(out).flatMap(a => Option(a.get("add")))
    assert(adds.nonEmpty)
  }

  test("partitioned segments (writeShards layout) take the materialize path with columns restored") {
    val root = tmp("delta_shard_")
    val docs = (0L until 50L).map(i => (i, Seq.fill((i % 5 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    graft.functions.ShardExport.writeShards(docs, "doc_id", "text", 4, 20L, root)
    val out = tmp("delta_out_shard_")
    DeltaInterop.exportSnapshot(spark, root + "/data", out)
    val got = spark.read.parquet(out)
    // the pb/ps partition columns survive as DATA columns in the export
    assert(got.columns.contains("pb") && got.columns.contains("ps"))
    assert(got.count() == 50L)
    val vt = VersionedTable.read(spark, root + "/data")
    assert(got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      vt.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("importSnapshot round-trips an export: merged rows, schema preserved") {
    val table = tmp("delta_rt_") + "/t"
    def w(df: org.apache.spark.sql.DataFrame)(dir: String): Unit =
      df.coalesce(1).write.parquet(dir)
    VersionedTable.upsert(spark, table, Seq("id"),
      compactWrite = (df, dir) => w(df)(dir))(
      w(Seq((1L, "old"), (2L, "keep"), (3L, "x")).toDF("id", "v")))
    VersionedTable.upsert(spark, table, Seq("id"),
      compactWrite = (df, dir) => w(df)(dir))(
      w(Seq((1L, "new")).toDF("id", "v")))
    val out = tmp("delta_out_rt_")
    DeltaInterop.exportSnapshot(spark, table, out)

    val imp = DeltaInterop.importSnapshot(spark, out)
    assert(imp.schema.fieldNames.toSeq == Seq("id", "v"))
    val got = imp.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = VersionedTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want, "import must serve exactly the exported snapshot")
  }

  test("importSnapshot replays a multi-commit foreign log: remove retires the file") {
    val out = tmp("delta_foreign_")
    val f1 = Paths.get(out, "a.parquet"); val f2 = Paths.get(out, "b.parquet")
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(out + "_w1")
    // write two single-file parquet payloads with known names
    def onePart(df: org.apache.spark.sql.DataFrame, dst: java.nio.file.Path): Unit = {
      val t = tmp("delta_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Files.list(Paths.get(t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.copy(part, dst)
    }
    onePart(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), f1)
    onePart(Seq((3L, "c")).toDF("id", "v"), f2)
    val logDir = Paths.get(out, "_delta_log"); Files.createDirectories(logDir)
    val schemaJson = Seq((1L, "a")).toDF("id", "v").schema.json
      .replace("\"", "\\\"")
    def add(p: java.nio.file.Path) =
      s"""{"add":{"path":"${p.getFileName}","partitionValues":{},"size":${Files.size(p)},"modificationTime":0,"dataChange":true}}"""
    Files.write(logDir.resolve("00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
          |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}
          |${add(f1)}
          |${add(f2)}
          |""".stripMargin).getBytes("UTF-8"))
    // commit 1: retire b.parquet
    Files.write(logDir.resolve("00000000000000000001.json"),
      s"""{"remove":{"path":"b.parquet","dataChange":true}}\n""".getBytes("UTF-8"))
    val got = DeltaInterop.importSnapshot(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")), "removed file must not be served")
  }

  test("schema evolution mid-log: pre-evolution files null-fill the added column") {
    val out = tmp("delta_evo_")
    val f1 = Paths.get(out, "a.parquet"); val f2 = Paths.get(out, "b.parquet")
    def onePart(df: org.apache.spark.sql.DataFrame, dst: java.nio.file.Path): Unit = {
      val t = tmp("delta_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Files.list(Paths.get(t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.copy(part, dst)
    }
    val dfOld = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val dfNew = Seq((3L, "c", 30L)).toDF("id", "v", "extra")
    onePart(dfOld, f1)
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(dfOld.schema.json))
    onePart(dfNew, f2)
    DeltaInterop.writeCommit(out, 1L, adds = Seq("b.parquet"),
      schemaJson = Some(dfNew.schema.json)) // ALTER TABLE ADD COLUMN
    val got = DeltaInterop.importSnapshot(spark, out)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "extra"),
      "last-wins metaData must win the read schema")
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(30L))))
  }

  private def mappedField(name: String, dt: org.apache.spark.sql.types.DataType,
      id: Long, phys: String): org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(name, dt, nullable = true,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())

  test("id-mode column mapping: columns resolve by parquet field id (names match " +
      "NOTHING); rename is metadata-only; configuration survives a checkpoint") {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val out = tmp("delta_cmid_")
    def fid(id: Long): Metadata =
      new MetadataBuilder().putLong("parquet.field.id", id).build()
    // the data files' physical column names ('w*') match neither the
    // logical schema nor the metadata physicalName ('col-p*') — the
    // Iceberg-compat drift — so only FIELD-ID resolution can read them;
    // the nested struct proves ids resolve at depth too
    def physDf(rows: Seq[(Long, String, Long)]) = rows.toDF("a", "b", "c")
      .select(col("a").as("w1", fid(1)), col("b").as("w2", fid(2)),
        struct(col("c").as("wn", fid(4))).as("w3", fid(3)))
    val nested = StructType(Seq(mappedField("inner", LongType, 4, "col-n1")))
    val v0 = StructType(Seq(
      mappedField("doc_id", LongType, 1, "col-p1"),
      mappedField("lang", StringType, 2, "col-p2"),
      mappedField("s", nested, 3, "col-p3")))
    val v1 = StructType(Seq(
      mappedField("doc_id", LongType, 1, "col-p1"),
      mappedField("language", StringType, 2, "col-p2"), // rename, same id
      mappedField("s", nested, 3, "col-p3")))
    val conf = Map("delta.columnMapping.mode" -> "id",
      "delta.columnMapping.maxColumnId" -> "4")
    onePartFile(physDf(Seq((1L, "en", 10L), (2L, "de", 20L))),
      Paths.get(out, "a.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(v0.json), configuration = conf,
      protocolVersions = Some((2, 5)))
    onePartFile(physDf(Seq((3L, "fr", 30L))), Paths.get(out, "b.parquet"))
    DeltaInterop.writeCommit(out, 1L, adds = Seq("b.parquet"),
      schemaJson = Some(v1.json), configuration = conf)
    def readAll() = {
      val df = DeltaInterop.importSnapshot(spark, out)
      assert(df.schema.fieldNames.toSeq == Seq("doc_id", "language", "s"))
      df.select(col("doc_id"), col("language"), col("s.inner")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    val want = Set((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L))
    assert(readAll() == want)
    // checkpoint, drop the JSON commits: the id mode must ride in the
    // checkpoint metaData or the re-read would resolve by (wrong) names
    DeltaInterop.writeCheckpoint(spark, out, 1L)
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000000.json"))
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000001.json"))
    assert(readAll() == want)
    // a field missing its declared id refuses rather than guessing
    val bare = StructType(Seq(StructField("doc_id", LongType),
      StructField("language", StringType)))
    val logDir = Paths.get(out, "_delta_log")
    val cp = spark.read.parquet(logDir.resolve(
      f"${1L}%020d.checkpoint.parquet").toString)
    assert(cp.filter(col("metaData").isNotNull).count() == 1) // sanity
    val outBad = tmp("delta_cmid_bad_")
    onePartFile(physDf(Seq((1L, "en", 10L))).select(col("w1"), col("w2")),
      Paths.get(outBad, "a.parquet"))
    DeltaInterop.writeCommit(outBad, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(bare.json),
      configuration = Map("delta.columnMapping.mode" -> "id"),
      protocolVersions = Some((2, 5)))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.importSnapshot(spark, outBad).collect()
    }
    assert(e.getMessage.contains("delta.columnMapping"), e.getMessage)
  }

  test("minReaderVersion 2 without name-mode mapping refuses (capability we lack)") {
    val out = tmp("delta_v2bare_")
    val f1 = Paths.get(out, "a.parquet")
    onePartFile(Seq((1L, "a")).toDF("id", "v"), f1)
    val logDir = Paths.get(out, "_delta_log"); Files.createDirectories(logDir)
    val schemaJson = Seq((1L, "a")).toDF("id", "v").schema.json
      .replace("\"", "\\\"")
    Files.write(logDir.resolve("00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
          |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}
          |{"add":{"path":"a.parquet","partitionValues":{},"size":${Files.size(f1)},"modificationTime":0,"dataChange":true}}
          |""".stripMargin).getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.importSnapshot(spark, out).collect()
    }
    assert(e.getMessage.contains("minReaderVersion 2"), e.getMessage)
  }

  test("name-mode mapping: physical files serve logical names; rename is metadata-only; " +
      "configuration survives a checkpoint") {
    import org.apache.spark.sql.types._
    val out = tmp("delta_cmname_")
    def physDf(rows: Seq[(Long, String, Long)]) = rows.toDF("a", "b", "c")
      .select(col("a").as("col-p1"), col("b").as("col-p2"),
        struct(col("c").as("col-n1")).as("col-p3"))
    val nested = StructType(Seq(mappedField("inner", LongType, 4, "col-n1")))
    val v0 = StructType(Seq(
      mappedField("doc_id", LongType, 1, "col-p1"),
      mappedField("lang", StringType, 2, "col-p2"),
      mappedField("s", nested, 3, "col-p3")))
    val v1 = StructType(Seq(
      mappedField("doc_id", LongType, 1, "col-p1"),
      mappedField("language", StringType, 2, "col-p2"), // rename, same physical
      mappedField("s", nested, 3, "col-p3")))
    val conf = Map("delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> "4")
    onePartFile(physDf(Seq((1L, "en", 10L), (2L, "de", 20L))),
      Paths.get(out, "a.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(v0.json), configuration = conf,
      protocolVersions = Some((2, 5)))
    onePartFile(physDf(Seq((3L, "fr", 30L))), Paths.get(out, "b.parquet"))
    DeltaInterop.writeCommit(out, 1L, adds = Seq("b.parquet"),
      schemaJson = Some(v1.json), configuration = conf)
    def readAll() = {
      val df = DeltaInterop.importSnapshot(spark, out)
      assert(df.schema.fieldNames.toSeq == Seq("doc_id", "language", "s"))
      assert(df.schema("s").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq == Seq("inner"))
      df.select(col("doc_id"), col("language"), col("s.inner")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    val want = Set((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L))
    assert(readAll() == want)
    // checkpoint, drop the JSON commits: the mapping mode must ride in the
    // checkpoint metaData or the re-read would serve all-NULL columns
    DeltaInterop.writeCheckpoint(spark, out, 1L)
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000000.json"))
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000001.json"))
    assert(readAll() == want)
    // and deleteWhere refuses a mapped table rather than matching wrong columns
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.deleteWhere(spark, out, 2L, col("doc_id") === 1L)
    }
    assert(e.getMessage.contains("column-mapped"), e.getMessage)
  }

  test("writeCommit(dvs = …) on a name-mapped (2, 5) table keeps columnMapping in the " +
      "upgraded protocol and still imports through physical names") {
    import org.apache.spark.sql.types._
    val out = tmp("delta_cmdv_")
    val schema = StructType(Seq(
      mappedField("doc_id", LongType, 1, "col-p1"),
      mappedField("lang", StringType, 2, "col-p2")))
    onePartFile(Seq((1L, "en"), (2L, "de"), (3L, "fr")).toDF("col-p1", "col-p2"),
      Paths.get(out, "a.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(schema.json),
      configuration = Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "2"),
      protocolVersions = Some((2, 5)))
    // delete row 1 (doc_id 2) with a DV: retire + re-add the file
    val payload = DeletionVectors.serializeBitmapArray(Seq(1L))
    val (pathOrInline, placements) = DeletionVectors.writeDvFile(Paths.get(out), Seq(payload))
    DeltaInterop.writeCommit(out, 1L, adds = Seq("a.parquet"), removes = Seq("a.parquet"),
      dvs = Map("a.parquet" -> DeletionVectors.DvDescriptor(
        "u", pathOrInline, Some(placements.head.offset), payload.length, 1L)))
    val protocol = Files.readAllLines(
        Paths.get(out, "_delta_log", "00000000000000000001.json"))
      .asScala.filter(_.nonEmpty).map(mapper.readTree(_))
      .flatMap(a => Option(a.get("protocol"))).head
    def features(k: String) = protocol.get(k).elements().asScala.map(_.asText()).toSet
    assert(protocol.get("minReaderVersion").asInt() == 3)
    assert(features("readerFeatures") == Set("columnMapping", "deletionVectors"))
    // (2, 5) implies every legacy writer feature up to writer version 5
    assert(features("writerFeatures") == Set("appendOnly", "invariants", "checkConstraints",
      "changeDataFeed", "generatedColumns", "columnMapping", "deletionVectors"))
    val got = DeltaInterop.importSnapshot(spark, out)
    assert(got.schema.fieldNames.toSeq == Seq("doc_id", "lang"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "en"), (3L, "fr")))
  }

  test("importSnapshot restores typed partition columns from add.partitionValues") {
    val out = tmp("delta_pv_")
    def onePart(df: org.apache.spark.sql.DataFrame, dst: java.nio.file.Path): Unit = {
      val t = tmp("delta_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Files.list(Paths.get(t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.copy(part, dst)
    }
    // data files carry only (id, v); bucket lives in the log
    val f1 = Paths.get(out, "p1.parquet"); val f2 = Paths.get(out, "p2.parquet")
    onePart(Seq((1L, "a")).toDF("id", "v"), f1)
    onePart(Seq((2L, "b")).toDF("id", "v"), f2)
    val full = StructType(DataType.fromJson(Seq((1L, "a")).toDF("id", "v").schema.json)
      .asInstanceOf[StructType].fields :+
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType))
    val schemaJson = full.json.replace("\"", "\\\"")
    val logDir = Paths.get(out, "_delta_log"); Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
          |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["bucket"],"configuration":{}}}
          |{"add":{"path":"p1.parquet","partitionValues":{"bucket":"7"},"size":${Files.size(f1)},"modificationTime":0,"dataChange":true}}
          |{"add":{"path":"p2.parquet","partitionValues":{"bucket":null},"size":${Files.size(f2)},"modificationTime":0,"dataChange":true}}
          |""".stripMargin).getBytes("UTF-8"))
    val imp = DeltaInterop.importSnapshot(spark, out)
    assert(imp.schema.fieldNames.toSeq == Seq("id", "v", "bucket"))
    assert(imp.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
    val got = imp.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(got == Set((1L, "a", Some(7)), (2L, "b", None)))
  }

  test("importSnapshot catches a size mismatch (corruption gate)") {
    val table = tmp("delta_corrupt_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("delta_out_corrupt_")
    val rels = DeltaInterop.exportSnapshot(spark, table, out)
    val victim = Paths.get(out, rels.head)
    Files.write(victim, Files.readAllBytes(victim) ++ Array[Byte](0))
    val ex = intercept[IllegalArgumentException] {
      DeltaInterop.importSnapshot(spark, out)
    }
    assert(ex.getMessage.contains("size mismatch"))
    // verifySizes=false skips the gate: plan construction succeeds (the
    // explicit schema means no file is touched until scan time)
    DeltaInterop.importSnapshot(spark, out, verifySizes = false)
  }

  test("importSnapshot randomized log replay: served set equals a reference fold") {
    val rnd = new scala.util.Random(42)
    def onePart(df: org.apache.spark.sql.DataFrame, dst: java.nio.file.Path): Unit = {
      val t = tmp("delta_fz_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Files.list(Paths.get(t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.copy(part, dst)
    }
    for (scenario <- 0 until 5) {
      val out = tmp(s"delta_fuzz_${scenario}_")
      val nFiles = 2 + rnd.nextInt(4)
      val fileRows = (0 until nFiles).map { f =>
        f -> (0 until (1 + rnd.nextInt(3))).map(r => (scenario * 1000L + f * 10L + r, s"v$f-$r"))
      }.toMap
      fileRows.foreach { case (f, rows) =>
        onePart(rows.toDF("id", "v"), Paths.get(out, s"f$f.parquet")) }
      val schemaJson = Seq((1L, "x")).toDF("id", "v").schema.json.replace("\"", "\\\"")
      // random action script over 1-3 commits: adds in commit order,
      // removes may retire earlier adds; reference fold = add/remove
      // last-wins per path
      val active = scala.collection.mutable.LinkedHashSet.empty[Int]
      val logDir = Paths.get(out, "_delta_log"); Files.createDirectories(logDir)
      val nCommits = 1 + rnd.nextInt(3)
      var pending = (0 until nFiles).toList
      for (c <- 0 until nCommits) {
        val sb = new StringBuilder
        if (c == 0) {
          sb.append("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""").append('\n')
          sb.append(s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""").append('\n')
        }
        // add some pending files
        val toAdd = pending.take(1 + rnd.nextInt(math.max(1, pending.size)))
        pending = pending.drop(toAdd.size)
        toAdd.foreach { f =>
          val p = Paths.get(out, s"f$f.parquet")
          sb.append(s"""{"add":{"path":"f$f.parquet","partitionValues":{},"size":${Files.size(p)},"modificationTime":0,"dataChange":true}}""").append('\n')
          active += f
        }
        // maybe remove one active file
        if (active.nonEmpty && rnd.nextBoolean()) {
          val victim = active.toSeq(rnd.nextInt(active.size))
          sb.append(s"""{"remove":{"path":"f$victim.parquet","dataChange":true}}""").append('\n')
          active -= victim
        }
        Files.write(logDir.resolve(f"$c%020d.json"), sb.toString.getBytes("UTF-8"))
      }
      // half the scenarios also checkpoint a random prefix (sometimes
      // multi-part): the served set must be identical with the base state
      // coming from the checkpoint instead of the early commits
      if (rnd.nextBoolean())
        DeltaInterop.writeCheckpoint(spark, out, rnd.nextInt(nCommits).toLong,
          parts = 1 + rnd.nextInt(2))
      val got = DeltaInterop.importSnapshot(spark, out).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = active.toSet.flatMap(fileRows)
      assert(got == want, s"scenario $scenario: got $got want $want (active=$active)")
    }
  }

  // ---- checkpointed logs (real tables checkpoint every ~10 commits) ----

  private def onePartFile(df: org.apache.spark.sql.DataFrame, dst: java.nio.file.Path): Unit = {
    val t = tmp("delta_cp_part_")
    df.coalesce(1).write.mode("overwrite").parquet(t)
    val part = Files.list(Paths.get(t)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next()
    Files.copy(part, dst)
    ()
  }

  /** commits 0..2 over four files, checkpoint at 1: f1,f2 added at v0;
    * v1 removes f2, adds f3; v2 (the tail) removes f1, adds f4 — final
    * active set {f3, f4}.
    */
  private def checkpointedTable(parts: Int): String = {
    val out = tmp("delta_cp_")
    onePartFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Paths.get(out, "f1.parquet"))
    onePartFile(Seq((3L, "c")).toDF("id", "v"), Paths.get(out, "f2.parquet"))
    onePartFile(Seq((4L, "d")).toDF("id", "v"), Paths.get(out, "f3.parquet"))
    onePartFile(Seq((5L, "e")).toDF("id", "v"), Paths.get(out, "f4.parquet"))
    val schemaJson = Seq((1L, "x")).toDF("id", "v").schema.json
    DeltaInterop.writeCommit(out, 0L, adds = Seq("f1.parquet", "f2.parquet"),
      schemaJson = Some(schemaJson))
    DeltaInterop.writeCommit(out, 1L, adds = Seq("f3.parquet"), removes = Seq("f2.parquet"))
    DeltaInterop.writeCheckpoint(spark, out, 1L, parts = parts)
    DeltaInterop.writeCommit(out, 2L, adds = Seq("f4.parquet"), removes = Seq("f1.parquet"))
    out
  }

  test("checkpoint + tail: base state from the checkpoint, tail remove retires a checkpointed add") {
    val out = checkpointedTable(parts = 1)
    // delete the compacted commits: the base state can ONLY come from the
    // checkpoint parquet — this is what makes long-log open O(tail)
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000000.json"))
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000001.json"))
    val got = DeltaInterop.importSnapshot(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((4L, "d"), (5L, "e")),
      "tail remove must retire the checkpoint-added f1; f3 (checkpoint) + f4 (tail) served")
  }

  test("multi-part checkpoint reads all parts") {
    val out = checkpointedTable(parts = 3)
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000000.json"))
    Files.delete(Paths.get(out, "_delta_log", "00000000000000000001.json"))
    val ptr = mapper.readTree(Files.readAllBytes(
      Paths.get(out, "_delta_log", "_last_checkpoint")))
    assert(ptr.get("parts").asInt() == 3)
    val got = DeltaInterop.importSnapshot(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((4L, "d"), (5L, "e")))
  }

  test("size gate still applies to checkpoint-declared files") {
    val out = checkpointedTable(parts = 1)
    // f3 is active via the CHECKPOINT's add row; truncating it must refuse
    val f3 = Paths.get(out, "f3.parquet")
    val bytes = Files.readAllBytes(f3)
    Files.write(f3, java.util.Arrays.copyOf(bytes, bytes.length - 1))
    val e = intercept[IllegalArgumentException](DeltaInterop.importSnapshot(spark, out))
    assert(e.getMessage.contains("size mismatch"))
  }

  test("a commit gap after the checkpoint refuses loudly") {
    val out = checkpointedTable(parts = 1)
    // hand-write v4, skipping v3 — a reader that shrugs silently
    // time-travels the table to a state that never existed
    Files.write(Paths.get(out, "_delta_log", "00000000000000000004.json"),
      "{\"remove\":{\"path\":\"f4.parquet\",\"dataChange\":true}}\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DeltaInterop.importSnapshot(spark, out))
    assert(e.getMessage.contains("gap"))
  }

  test("writeCommit enforces contiguity and first-commit metaData; missing checkpoint file refuses") {
    val out = tmp("delta_cp_guard_")
    onePartFile(Seq((1L, "a")).toDF("id", "v"), Paths.get(out, "f1.parquet"))
    val schemaJson = Seq((1L, "x")).toDF("id", "v").schema.json
    assert(intercept[IllegalArgumentException](
      DeltaInterop.writeCommit(out, 0L, adds = Seq("f1.parquet")))
      .getMessage.contains("schemaJson"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("f1.parquet"), schemaJson = Some(schemaJson))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.writeCommit(out, 2L, adds = Nil))
      .getMessage.contains("non-contiguous"))
    // a dangling _last_checkpoint (pointer without the parquet) refuses
    Files.write(Paths.get(out, "_delta_log", "_last_checkpoint"),
      "{\"version\":0,\"size\":3}\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DeltaInterop.importSnapshot(spark, out))
    assert(e.getMessage.contains("missing"))
  }

  test("convertFromIceberg: in-place _delta_log, both bridges agree, identity partitions convert") {
    val root = tmp("i2d_")
    val tab = root + "/t"
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedTable.append(tab)(d =>
      df.filter(col("id") <= 10).coalesce(1).write.parquet(d))
    VersionedTable.append(tab)(d =>
      df.filter(col("id") > 10).coalesce(1).write.parquet(d))
    val ice = root + "/ice"
    IcebergInterop.exportSnapshot(spark, tab, ice)
    val rels = DeltaInterop.convertFromIceberg(spark, ice)
    assert(rels.size == 2 && rels.forall(_.startsWith("data/")),
      s"adds must be table-relative: $rels")
    val viaDelta = DeltaInterop.importSnapshot(spark, ice)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaIceberg = IcebergInterop.importSnapshot(spark, ice)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaDelta == df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(viaDelta == viaIceberg)
    // identity-partitioned Iceberg tables CONVERT (round 16): the fixture
    // is the Hive-migrated shape — data files LACK the partition column,
    // the value (NULL included) lives only in the manifest partition
    // structs — so the Delta read reconstructs it entirely from
    // add.partitionValues
    val pfix = tmp("i2d_part_")
    val pdf = Seq((1L, "a", "en"), (2L, "b", "de"), (3L, "c", null))
      .toDF("id", "v", "pl")
    IcebergFixtures.writePartitionedV1(spark, pfix, pdf, "pl")
    DeltaInterop.convertFromIceberg(spark, pfix)
    def rows3(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("v"), col("pl"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val wantP = Set((1L, "a", "en"), (2L, "b", "de"), (3L, "c", null: String))
    assert(rows3(DeltaInterop.importSnapshot(spark, pfix)) == wantP)
    assert(rows3(IcebergInterop.importSnapshot(spark, pfix)) == wantP,
      "both bridges must agree on the partitioned table")
    // non-identity transforms still refuse: the field is not a column
    val xfix = tmp("i2d_xform_")
    IcebergFixtures.writeTransformPartitionedV1(spark, xfix,
      Seq((1L, "en"), (2L, "de")).toDF("id", "lang"),
      Seq(("id_bucket", "bucket[4]", "id", pmod(col("id"), lit(4L)).cast("int"))))
    val e = intercept[IllegalArgumentException](
      DeltaInterop.convertFromIceberg(spark, xfix))
    assert(e.getMessage.contains("non-identity"))
  }

  test("vacuum: retention window honored, dryRun touches nothing, live files survive") {
    val out = tmp("vac_") + "/t"
    Files.createDirectories(Paths.get(out))
    val df = (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
    onePartFile(df.filter(col("id") <= 10), Paths.get(out, "a.parquet"))
    onePartFile(df.filter(col("id") > 10 && col("id") <= 20), Paths.get(out, "b.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet", "b.parquet"),
      schemaJson = Some(df.schema.json))
    onePartFile(df.filter(col("id") > 20), Paths.get(out, "c.parquet"))
    DeltaInterop.writeCommit(out, 1L, adds = Seq("c.parquet"),
      removes = Seq("a.parquet"))
    onePartFile(df.limit(1), Paths.get(out, "orphan.parquet"))
    // default 7-day retention: the fresh tombstone and orphan both survive
    assert(DeltaInterop.vacuum(spark, out) == Nil)
    assert(Files.exists(Paths.get(out, "a.parquet")))
    // dryRun at retention 0: names both, deletes neither
    assert(DeltaInterop.vacuum(spark, out, retentionMs = 0L, dryRun = true,
      disableRetentionCheck = true)
      == Seq("a.parquet", "orphan.parquet"))
    assert(Files.exists(Paths.get(out, "a.parquet"))
      && Files.exists(Paths.get(out, "orphan.parquet")))
    // real vacuum: exactly those two go, the live set + log stay intact
    assert(DeltaInterop.vacuum(spark, out, retentionMs = 0L,
      disableRetentionCheck = true)
      == Seq("a.parquet", "orphan.parquet"))
    assert(!Files.exists(Paths.get(out, "a.parquet"))
      && !Files.exists(Paths.get(out, "orphan.parquet")))
    val got = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (11L to 30L).map(i => (i, s"v$i")).toSet)
    // idempotent: a second vacuum finds nothing
    assert(DeltaInterop.vacuum(spark, out, retentionMs = 0L,
      disableRetentionCheck = true) == Nil)
    // sub-default retention without the explicit override refuses — a
    // zero window deletes an in-flight writer's files (ADVICE r15)
    val eR = intercept[IllegalArgumentException](
      DeltaInterop.vacuum(spark, out, retentionMs = 0L))
    assert(eR.getMessage.contains("disableRetentionCheck"))
  }

  test("vacuum: percent-encoded live paths resolve to the on-disk file (never orphaned)") {
    // PROTOCOL.md mandates add/remove paths be URL-encoded; an externally
    // written table whose live file name contains a space logs it as
    // 'a%20b.parquet'. Before r16 the raw path missed the on-disk file,
    // it fell out of the live set, and vacuum DELETED a live file.
    val out = tmp("vac_enc_") + "/t"
    Files.createDirectories(Paths.get(out))
    val df = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    onePartFile(df, Paths.get(out, "a b.parquet"))
    val log = Paths.get(out, "_delta_log")
    Files.createDirectories(log)
    val actions = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":${
        com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(df.schema.json)},"partitionColumns":[],"configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"a%20b.parquet","partitionValues":{},"size":${
        Files.size(Paths.get(out, "a b.parquet"))},"modificationTime":0,"dataChange":true}}""")
    Files.write(log.resolve("00000000000000000000.json"),
      actions.mkString("", "\n", "\n").getBytes("UTF-8"))
    // even at retention 0 the encoded live file survives: it decodes into
    // the live set instead of looking like never-logged debris
    assert(DeltaInterop.vacuum(spark, out, retentionMs = 0L,
      disableRetentionCheck = true) == Nil)
    assert(Files.exists(Paths.get(out, "a b.parquet")))
  }

  test("writeCommit percent-encodes paths (PROTOCOL.md); import + vacuum round-trip") {
    // ADVICE r16: self-written logs must be spec-compliant — a file named
    // 'a b.parquet' logs as 'a%20b.parquet', and the decode-at-parse rule
    // makes import, liveState and vacuum all resolve the on-disk file
    val out = tmp("enc_rt_") + "/t"
    Files.createDirectories(Paths.get(out))
    val df = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    onePartFile(df, Paths.get(out, "a b.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a b.parquet"),
      schemaJson = Some(df.schema.json))
    val addPaths = logActions(out)
      .flatMap(a => Option(a.get("add"))).map(_.get("path").asText())
    assert(addPaths == Seq("a%20b.parquet"), s"log must carry the ENCODED path: $addPaths")
    val got = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 5L).map(i => (i, s"v$i")).toSet)
    // the encoded live path decodes into the live set: nothing to vacuum
    assert(DeltaInterop.vacuum(spark, out, retentionMs = 0L,
      disableRetentionCheck = true) == Nil)
    assert(Files.exists(Paths.get(out, "a b.parquet")))
    // remove leg: the tombstone is encoded too, and vacuum reclaims the
    // on-disk file through the decoded resolution
    onePartFile(df.filter(col("id") <= 2), Paths.get(out, "c d.parquet"))
    DeltaInterop.writeCommit(out, 1L, adds = Seq("c d.parquet"),
      removes = Seq("a b.parquet"))
    assert(DeltaInterop.vacuum(spark, out, retentionMs = 0L,
      disableRetentionCheck = true) == Seq("a b.parquet"))
    assert(!Files.exists(Paths.get(out, "a b.parquet")))
    assert(DeltaInterop.importSnapshot(spark, out).count() == 2)
  }

  test("off-spec RAW live path containing a decodable sequence: vacuum keeps it, import reads it") {
    // ADVICE r16 (the data-loss class): an off-spec writer logged the raw
    // on-disk name 'x%20y.parquet' WITHOUT encoding. Decoding yields
    // 'x y.parquet' (absent on disk) — the live set must ALSO hold the
    // raw resolution or vacuum deletes a live file as orphan debris.
    val out = tmp("raw_pct_") + "/t"
    Files.createDirectories(Paths.get(out))
    val df = (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v")
    onePartFile(df, Paths.get(out, "x%20y.parquet"))
    val log = Paths.get(out, "_delta_log")
    Files.createDirectories(log)
    val schemaJson = df.schema.json.replace("\"", "\\\"")
    Files.write(log.resolve("00000000000000000000.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
          |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}
          |{"add":{"path":"x%20y.parquet","partitionValues":{},"size":${
        Files.size(Paths.get(out, "x%20y.parquet"))},"modificationTime":0,"dataChange":true}}
          |""".stripMargin).getBytes("UTF-8"))
    assert(DeltaInterop.vacuum(spark, out, retentionMs = 0L,
      disableRetentionCheck = true) == Nil)
    assert(Files.exists(Paths.get(out, "x%20y.parquet")))
    // import tolerates the off-spec raw form: decoded resolution misses,
    // the verbatim-raw fallback reads the actual file
    val got = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 4L).map(i => (i, s"v$i")).toSet)
  }

  test("id-mode import leaves the caller's session conf untouched (scoped clone)") {
    // ADVICE r16 / VERDICT r16 wrong #1: the field-id flag must live on
    // an isolated session — a later unrelated read in the CALLER's
    // session of field-id-bearing parquet must keep resolving by name
    import org.apache.spark.sql.types._
    val before = spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val out = tmp("cmid_scope_")
    def fid(id: Long): Metadata =
      new MetadataBuilder().putLong("parquet.field.id", id).build()
    val v0 = StructType(Seq(
      mappedField("doc_id", LongType, 1, "col-p1"),
      mappedField("lang", StringType, 2, "col-p2")))
    onePartFile(Seq((1L, "en"), (2L, "de")).toDF("a", "b")
      .select(col("a").as("z1", fid(1)), col("b").as("z2", fid(2))),
      Paths.get(out, "a.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(v0.json),
      configuration = Map("delta.columnMapping.mode" -> "id",
        "delta.columnMapping.maxColumnId" -> "2"),
      protocolVersions = Some((2, 5)))
    val got = DeltaInterop.importSnapshot(spark, out)
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "en"), (2L, "de")))
    val after = spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
    assert(after == before,
      s"id-mode import mutated the caller's session conf: $before -> $after")
  }

  test("refuses to clobber an existing _delta_log") {
    val table = tmp("delta_ref_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("delta_out_ref_")
    DeltaInterop.exportSnapshot(spark, table, out)
    intercept[IllegalArgumentException] {
      DeltaInterop.exportSnapshot(spark, table, out)
    }
  }

  /** Three range-segmented files with stats: f0 ids 1-10, f1 ids 11-20,
    * f2 ids 21-30. Returns the table root.
    */
  private def mergeBase(): String = {
    val out = tmp("delta_merge_")
    def seg(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"v$i")).toDF("id", "v")
    onePartFile(seg(1, 10), Paths.get(out, "f0.parquet"))
    onePartFile(seg(11, 20), Paths.get(out, "f1.parquet"))
    onePartFile(seg(21, 30), Paths.get(out, "f2.parquet"))
    val adds = Seq("f0.parquet", "f1.parquet", "f2.parquet")
    DeltaInterop.writeCommit(out, 0L, adds = adds,
      schemaJson = Some(seg(1, 1).schema.json),
      stats = DeltaInterop.computeAddStats(spark, out, adds))
    out
  }

  test("merge: stats-pruned CDC upsert — update/delete/insert in one commit, " +
    "disjoint files never opened, untouched survivors byte-identical") {
    val out = mergeBase()
    val f0Bytes = Files.readAllBytes(Paths.get(out, "f0.parquet")).toSeq
    // wave envelope [12, 18] sits wholly inside f1's [11, 20]: updates for
    // 12 and 18, a tombstone for 15 (inserts are exercised by the next
    // test, whose wave carries a key absent from the table)
    val wave = Seq((12L, "UPD12", false), (15L, "x", true), (18L, "UPD18", false))
      .toDF("id", "v", "del")
    val rep = DeltaInterop.merge(spark, out, 1L, wave, Seq("id"), deleteCol = Some("del"))
    assert(rep.filesSkipped == 2, s"f0/f2 are range-disjoint: $rep")
    assert(rep.filesScanned == 1 && rep.filesRewritten == 1, s"$rep")
    assert(rep.targetRowsReplaced == 3 && rep.rowsWritten == 2, s"$rep")
    val got = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 29, "30 - 1 tombstone")
    assert(got(12L) == "UPD12" && got(18L) == "UPD18")
    assert(!got.contains(15L), "tombstoned key must be gone")
    assert(got(11L) == "v11" && got(20L) == "v20", "unmatched rows of the touched file survive")
    assert(Files.readAllBytes(Paths.get(out, "f0.parquet")).toSeq == f0Bytes,
      "pruned file untouched on disk")
    // the commit retired f1 and added ONE file — f1's survivors and the
    // wave's rows written together — WITH stats
    val c1 = Files.readAllLines(Paths.get(out, "_delta_log", f"${1L}%020d.json"))
      .asScala.filter(_.nonEmpty).map(mapper.readTree(_))
    val rm = c1.flatMap(a => Option(a.get("remove"))).map(_.get("path").asText())
    assert(rm == Seq("f1.parquet"))
    val adds = c1.flatMap(a => Option(a.get("add")))
    assert(adds.size == 1, s"one size-targeted write, not one file per source: $adds")
    val addStats = mapper.readTree(adds.head.get("stats").asText())
    assert(addStats.get("minValues").get("id").asLong() == 11L &&
      addStats.get("maxValues").get("id").asLong() == 20L,
      s"the next merge prunes on these stats: $addStats")
    // and a second merge prunes against the first's output
    val rep2 = DeltaInterop.merge(spark, out, 2L,
      Seq((25L, "UPD25", false)).toDF("id", "v", "del"), Seq("id"), Some("del"))
    assert(rep2.filesSkipped >= 2 && rep2.filesRewritten == 1, s"$rep2")
  }

  test("merge: inserts land, a fully-matched file retires without a successor, " +
    "deletion vectors compose (dead rows are not matches)") {
    val out = mergeBase()
    // kill id 13 via a DV first: its key arriving in a wave is an INSERT
    val ndel = DeltaInterop.deleteWhere(spark, out, 1L, col("id") === 13L)
    assert(ndel == 1)
    val wave = ((11L to 20L).map(i => (i, s"W$i", false)) :+ ((31L, "NEW31", false)))
      .toDF("id", "v", "del")
    val rep = DeltaInterop.merge(spark, out, 2L, wave, Seq("id"))
    // envelope [11,31] overlaps f1 and f2; f0 pruned
    assert(rep.filesSkipped == 1 && rep.filesScanned == 2, s"$rep")
    assert(rep.filesRewritten == 1, s"only f1 holds matches: $rep")
    assert(rep.targetRowsReplaced == 9, s"10 wave keys in 11..20 minus the DV-dead 13: $rep")
    assert(rep.rowsWritten == 11, s"$rep")
    val got = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 31, "30 - dv-dead 13 + re-inserted 13 + new 31")
    assert((11L to 20L).forall(i => got(i) == s"W$i"), "wave replaced the whole segment")
    assert(got(31L) == "NEW31" && got(1L) == "v1" && got(30L) == "v30")
    // f1's successor exists; f1 was ENTIRELY matched (9 live rows all in the
    // wave) → retired with no -merged- file
    val c2 = Files.readAllLines(Paths.get(out, "_delta_log", f"${2L}%020d.json"))
      .asScala.filter(_.nonEmpty).map(mapper.readTree(_))
    assert(!c2.flatMap(a => Option(a.get("add"))).exists(
      _.get("path").asText().contains("-merged-")),
      "a fully-matched file retires instead of rewriting an empty parquet")
    assert(c2.flatMap(a => Option(a.get("remove"))).map(_.get("path").asText())
      == Seq("f1.parquet"))
  }

  test("merge: contract refusals — duplicate keys, NULL keys, missing columns, " +
    "non-boolean deleteCol, partitioned table; empty wave commits empty") {
    val out = mergeBase()
    val dup = Seq((12L, "a", false), (12L, "b", false)).toDF("id", "v", "del")
    val e1 = intercept[IllegalArgumentException](
      DeltaInterop.merge(spark, out, 1L, dup, Seq("id"), Some("del")))
    assert(e1.getMessage.contains("duplicate"))
    val nul = Seq((Some(12L), "a"), (None, "b")).toDF("id", "v")
    val e2 = intercept[IllegalArgumentException](
      DeltaInterop.merge(spark, out, 1L, nul, Seq("id")))
    assert(e2.getMessage.contains("NULL key"))
    val narrow = Seq(12L).toDF("id")
    val e3 = intercept[IllegalArgumentException](
      DeltaInterop.merge(spark, out, 1L, narrow, Seq("id")))
    assert(e3.getMessage.contains("lacks table columns"))
    val badDel = Seq((12L, "a", 1)).toDF("id", "v", "del")
    val e4 = intercept[IllegalArgumentException](
      DeltaInterop.merge(spark, out, 1L, badDel, Seq("id"), Some("del")))
    assert(e4.getMessage.contains("boolean"))
    // empty wave: an empty commit keeps versions contiguous
    val rep = DeltaInterop.merge(spark, out, 1L,
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(rep.filesRewritten == 0 && rep.rowsWritten == 0)
    assert(Files.exists(Paths.get(out, "_delta_log", f"${1L}%020d.json")))
  }

  test("merge on a PARTITIONED table: cross-partition moves, NULL partitions, " +
    "partition-value pruning when keys include the partition column") {
    val out = tmp("delta_merge_p_")
    // data files store (id, v) only; part lives in add.partitionValues
    onePartFile((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      Paths.get(out, "pa.parquet"))
    onePartFile((11L to 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      Paths.get(out, "pb.parquet"))
    onePartFile((21L to 25L).map(i => (i, s"v$i")).toDF("id", "v"),
      Paths.get(out, "pn.parquet"))
    val adds = Seq("pa.parquet", "pb.parquet", "pn.parquet")
    DeltaInterop.writeCommit(out, 0L, adds = adds,
      schemaJson = Some(Seq((1L, "x", "p")).toDF("id", "v", "part").schema.json),
      partitionColumns = Seq("part"),
      partitionValues = Map(
        "pa.parquet" -> Map("part" -> Some("a")),
        "pb.parquet" -> Map("part" -> Some("b")),
        "pn.parquet" -> Map("part" -> None)),
      stats = DeltaInterop.computeAddStats(spark, out, adds))
    // wave: in-place update (5 stays in a), a CROSS-PARTITION move (12:
    // b → a), a tombstone in the NULL partition (22), inserts into b (30)
    // and into the NULL partition (31)
    val wave = Seq(
      (5L, "U5", "a", false), (12L, "U12", "a", false),
      (22L, "x", null: String, true),
      (30L, "N30", "b", false), (31L, "N31", null: String, false))
      .toDF("id", "v", "part", "del")
    val rep = DeltaInterop.merge(spark, out, 1L, wave, Seq("id"), Some("del"))
    assert(rep.targetRowsReplaced == 3 && rep.rowsWritten == 4, s"$rep")
    assert(rep.filesRewritten == 3, s"all three partitions hold matches: $rep")
    val got = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), (r.getString(1), Option(r.getString(2))))).toMap
    assert(got.size == 26, "25 - 1 tombstone + 2 inserts")
    assert(got(5L) == (("U5", Some("a"))))
    assert(got(12L) == (("U12", Some("a"))), "updated row moved b -> a")
    assert(!got.contains(22L))
    assert(got(30L) == (("N30", Some("b"))))
    assert(got(31L) == (("N31", None)), "NULL partition insert round-trips")
    assert(got(1L) == (("v1", Some("a"))) && got(21L) == (("v21", None)),
      "unmatched rows keep their partitions")
    // keys INCLUDING the partition column: the wave is confined to part=a,
    // so partition values prune part=b and the all-NULL partition, and the
    // id bounds prune the a-partition insert file (ids 5,12)
    val liveN = DeltaInterop.liveState(spark, out).files.size
    val rep2 = DeltaInterop.merge(spark, out, 2L,
      Seq((3L, "U3", "a", false)).toDF("id", "v", "part", "del"),
      Seq("id", "part"), Some("del"))
    assert(rep2.filesScanned == 1 && rep2.filesRewritten == 1,
      s"partition+stats pruning must isolate the one overlapping file: $rep2")
    assert(rep2.filesSkipped == liveN - 1, s"live=$liveN, $rep2")
    val got2 = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got2(3L) == "U3" && got2.size == 26)
  }

  test("change data feed: merge emits _change_data + cdc actions; the reader " +
    "serves cdc commits exclusively and derives append commits") {
    val out = tmp("delta_cdf_") + "/t"
    Files.createDirectories(Paths.get(out))
    def onePart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val t = tmp("delta_cdf_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Files.list(Paths.get(t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.copy(part, Paths.get(out, name))
    }
    val v0df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    onePart(v0df, "seg0.parquet")
    DeltaInterop.writeCommit(out, 0L, adds = Seq("seg0.parquet"),
      schemaJson = Some(v0df.schema.json),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    // update 3, tombstone 4, insert 11, tombstone an ABSENT key 99
    val wave = Seq((3L, "U3", false), (4L, "x", true),
      (11L, "N11", false), (99L, "zz", true)).toDF("id", "v", "del")
    DeltaInterop.merge(spark, out, 1L, wave, Seq("id"), Some("del"))
    val feed = DeltaInterop.readChangeFeed(spark, out, 0L, 1L)
      .collect().map(r => (r.getLong(3), r.getString(2), r.getLong(0), r.getString(1)))
      .toSet
    val v0Inserts = (1L to 10L).map(i => (0L, "insert", i, s"v$i")).toSet
    assert(feed == v0Inserts ++ Set(
      (1L, "update_preimage", 3L, "v3"), (1L, "update_postimage", 3L, "U3"),
      (1L, "delete", 4L, "v4"), (1L, "insert", 11L, "N11")),
      s"unexpected feed: ${feed -- v0Inserts}")
    // cdc actions present in the merge commit; the table itself reads right
    val acts = Files.readAllLines(
      Paths.get(out, "_delta_log", "00000000000000000001.json")).asScala
      .filter(_.contains("\"cdc\""))
    assert(acts.nonEmpty, "merge commit must carry cdc actions")
    val got = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(3L) == "U3" && got(11L) == "N11" && !got.contains(4L) && got.size == 10)
    // a DV commit without cdc actions is not derivable → the feed refuses
    DeltaInterop.deleteWhere(spark, out, 2L, col("id") === 5L)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readChangeFeed(spark, out, 0L, 2L).collect())
      .getMessage.contains("not derivable"))
    // but the pre-DV range still serves
    assert(DeltaInterop.readChangeFeed(spark, out, 1L, 1L).count() == 4L)
    intercept[IllegalArgumentException](DeltaInterop.readChangeFeed(spark, out, 2L, 1L))
  }

  test("time travel (version + timestamp) and RESTORE: pinned reads through one " +
    "replay path, monotonic commit times, restore is an append-only commit") {
    val out = tmp("delta_tt_") + "/t"
    Files.createDirectories(Paths.get(out))
    def onePart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val t = tmp("delta_tt_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t)
      val part = Files.list(Paths.get(t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.copy(part, Paths.get(out, name))
    }
    val v0df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    onePart(v0df, "seg0.parquet")
    DeltaInterop.writeCommit(out, 0L, adds = Seq("seg0.parquet"),
      schemaJson = Some(v0df.schema.json), commitTimestampMs = Some(100000L))
    onePart((11L to 15L).map(i => (i, s"v$i")).toDF("id", "v"), "seg1.parquet")
    DeltaInterop.writeCommit(out, 1L, adds = Seq("seg1.parquet"),
      commitTimestampMs = Some(200000L))
    // v2 rewrites seg0 to odds only
    onePart(v0df.filter(col("id") % 2 === 1), "seg2.parquet")
    DeltaInterop.writeCommit(out, 2L, adds = Seq("seg2.parquet"),
      removes = Seq("seg0.parquet"), commitTimestampMs = Some(300000L))

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val v0 = (1L to 10L).toSet
    val v1 = (1L to 15L).toSet
    val v2 = v1.filter(i => i > 10 || i % 2 == 1)
    assert(ids(DeltaInterop.importSnapshotAt(spark, out, 0L)) == v0)
    assert(ids(DeltaInterop.importSnapshotAt(spark, out, 1L)) == v1)
    assert(ids(DeltaInterop.importSnapshotAt(spark, out, 2L)) == v2)
    assert(ids(DeltaInterop.importSnapshot(spark, out)) == v2)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.importSnapshotAt(spark, out, 7L)).getMessage.contains("not in the log"))

    // timestamp travel: between-commit instants resolve to the earlier one
    assert(ids(DeltaInterop.importSnapshotAsOfTimestamp(spark, out, 150000L)) == v0)
    assert(ids(DeltaInterop.importSnapshotAsOfTimestamp(spark, out, 200000L)) == v1)
    assert(ids(DeltaInterop.importSnapshotAsOfTimestamp(spark, out, Long.MaxValue)) == v2)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.importSnapshotAsOfTimestamp(spark, out, 99999L))
      .getMessage.contains("no commit at or before"))

    // restore to v1: seg0 re-added, seg2 removed, as version 3
    val rep = DeltaInterop.restore(spark, out, 1L)
    assert(rep == DeltaInterop.RestoreReport(1L, 3L, 1, 1, false), s"$rep")
    assert(ids(DeltaInterop.importSnapshot(spark, out)) == v1)
    // history is append-only: v2 still replayable, the restore is a version
    assert(ids(DeltaInterop.importSnapshotAt(spark, out, 2L)) == v2)
    assert(ids(DeltaInterop.importSnapshotAt(spark, out, 3L)) == v1)
    // restore to v0 drops seg1; nothing to re-add (seg0 already live)
    val rep2 = DeltaInterop.restore(spark, out, 0L)
    assert(rep2 == DeltaInterop.RestoreReport(0L, 4L, 0, 1, false), s"$rep2")
    assert(ids(DeltaInterop.importSnapshot(spark, out)) == v0)
    // refusals: restore to the tip / to a version ahead of the log
    assert(intercept[IllegalArgumentException](
      DeltaInterop.restore(spark, out, 4L)).getMessage.contains("not before"))
    intercept[IllegalArgumentException](DeltaInterop.restore(spark, out, 9L))
    // a vacuumed target refuses BEFORE committing anything
    val tipBefore = Files.list(Paths.get(out, "_delta_log")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".json"))
    Files.delete(Paths.get(out, "seg1.parquet"))
    val e = intercept[IllegalArgumentException](DeltaInterop.restore(spark, out, 1L))
    assert(e.getMessage.contains("vacuumed"))
    val tipAfter = Files.list(Paths.get(out, "_delta_log")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".json"))
    assert(tipBefore == tipAfter, "failed restore must not commit")
  }

  /** Every path under `dir` with its size (directories as -1), sorted. */
  private def tree(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map(p => root.relativize(p).toString ->
      (if (Files.isDirectory(p)) -1L else Files.size(p))).toSeq.sorted
    finally s.close()
  }

  test("writeCommit: two writers racing one version — exactly one commit lands, the " +
    "loser gets ConcurrentCommitException, the log holds the winner's bytes (200 trials)") {
    val schemaJson = Seq((1L, "x")).toDF("id", "v").schema.json
    val pool = Executors.newFixedThreadPool(2)
    try (1 to 200).foreach { trial =>
      val out = tmp("delta_race_")
      DeltaInterop.writeCommit(out, 0L, adds = Nil, schemaJson = Some(schemaJson))
      val start = new CountDownLatch(1)
      // the two commits differ only in their pinned commit time
      val stamps = Seq(1000L, 2000L)
      val futures = stamps.map { ts =>
        pool.submit(new Callable[Option[Throwable]] {
          def call(): Option[Throwable] = {
            start.await()
            try {
              DeltaInterop.writeCommit(out, 1L, adds = Nil, commitTimestampMs = Some(ts))
              None
            } catch { case e: Throwable => Some(e) }
          }
        })
      }
      start.countDown()
      val outcomes = stamps.zip(futures.map(_.get(60, TimeUnit.SECONDS)))
      val winners = outcomes.collect { case (ts, None) => ts }
      assert(winners.size == 1, s"trial $trial: $outcomes")
      outcomes.collect { case (_, Some(e)) => e }.foreach(e => assert(
        e.isInstanceOf[VersionedTable.ConcurrentCommitException], s"trial $trial: loser got $e"))
      val committed = Files.readAllLines(Paths.get(out, "_delta_log", f"${1L}%020d.json"))
        .asScala.map(mapper.readTree(_)).flatMap(a => Option(a.get("commitInfo")))
        .map(_.get("timestamp").asLong())
      assert(committed == Seq(winners.head), s"trial $trial: the log holds $committed")
      assert(tree(out).map(_._1) == Seq("_delta_log",
        "_delta_log/00000000000000000000.json", "_delta_log/00000000000000000001.json"),
        s"trial $trial: staged commit bytes left behind")
      VersionedTable.deleteRecursively(Paths.get(out))
    } finally pool.shutdown()
  }

  test("two merges racing one version: the loser gets ConcurrentCommitException and " +
    "the table serves the winner's rows, never the loser's files (10 trials)") {
    val pool = Executors.newFixedThreadPool(2)
    try (1 to 10).foreach { trial =>
      val out = tmp("delta_merge_race_")
      onePartFile((0L until 20L).map(i => (i, "base")).toDF("id", "v"),
        Paths.get(out, "f0.parquet"))
      DeltaInterop.writeCommit(out, 0L, adds = Seq("f0.parquet"),
        schemaJson = Some(Seq((1L, "x")).toDF("id", "v").schema.json))
      val start = new CountDownLatch(1)
      val writers = Seq("A", "B")
      val futures = writers.map { w =>
        val wave = (0L until 10L).map(i => (i, w)).toDF("id", "v")
        pool.submit(new Callable[Option[Throwable]] {
          def call(): Option[Throwable] = {
            start.await()
            try { DeltaInterop.merge(spark, out, 1L, wave, Seq("id")); None }
            catch { case e: Throwable => Some(e) }
          }
        })
      }
      start.countDown()
      val outcomes = writers.zip(futures.map(_.get(120, TimeUnit.SECONDS)))
      val winners = outcomes.collect { case (w, None) => w }
      assert(winners.size == 1, s"trial $trial: $outcomes")
      outcomes.collect { case (_, Some(e)) => e }.foreach(e => assert(
        e.isInstanceOf[VersionedTable.ConcurrentCommitException], s"trial $trial: loser got $e"))
      val served = DeltaInterop.importSnapshot(spark, out).filter(col("id") < 10L)
        .select("v").distinct().as[String].collect().toSeq
      assert(served == winners, s"trial $trial: winner $winners, table serves $served")
    } finally pool.shutdown()
  }

  test("a refused merge writes nothing: CDF on a partitioned table refuses before " +
    "any data file, change file or commit lands") {
    val out = tmp("delta_merge_refused_")
    onePartFile((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Paths.get(out, "pa.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("pa.parquet"),
      schemaJson = Some(Seq((1L, "x", "p")).toDF("id", "v", "part").schema.json),
      partitionColumns = Seq("part"),
      partitionValues = Map("pa.parquet" -> Map("part" -> Some("a"))),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val before = tree(out)
    val e = intercept[IllegalArgumentException](DeltaInterop.merge(spark, out, 1L,
      Seq((5L, "U5", "a"), (11L, "N11", "b")).toDF("id", "v", "part"), Seq("id")))
    assert(e.getMessage.contains("PARTITIONED"))
    assert(tree(out) == before, "table root and _delta_log must be unchanged")
  }

  test("merge: a wave that empties its touched file retires it and adds no data file") {
    val out = mergeBase()
    val wave = (1L to 10L).map(i => (i, "x", true)).toDF("id", "v", "del")
    val rep = DeltaInterop.merge(spark, out, 1L, wave, Seq("id"), Some("del"))
    assert(rep.filesRewritten == 1 && rep.targetRowsReplaced == 10 && rep.rowsWritten == 0)
    val c1 = Files.readAllLines(Paths.get(out, "_delta_log", f"${1L}%020d.json"))
      .asScala.filter(_.nonEmpty).map(mapper.readTree(_))
    assert(c1.flatMap(a => Option(a.get("remove"))).map(_.get("path").asText()) ==
      Seq("f0.parquet"))
    assert(c1.forall(a => a.get("add") == null), "an empty write is not a data file")
    assert(!tree(out).exists(_._1.startsWith("merge-")), "nor is it left on disk")
    assert(DeltaInterop.importSnapshot(spark, out).count() == 20L)
  }

  test("merge deletes its staging directories, whether it commits or fails") {
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    def staging(): Set[String] = {
      val s = Files.list(tmpRoot)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_merge")).toSet
      finally s.close()
    }
    def cdfTable(): String = {
      val out = tmp("delta_merge_staging_")
      onePartFile((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Paths.get(out, "f0.parquet"))
      DeltaInterop.writeCommit(out, 0L, adds = Seq("f0.parquet"),
        schemaJson = Some(Seq((1L, "x")).toDF("id", "v").schema.json),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      out
    }
    val wave = Seq((3L, "U3", false), (4L, "x", true), (11L, "N11", false))
      .toDF("id", "v", "del")
    val before = staging()
    DeltaInterop.merge(spark, cdfTable(), 1L, wave, Seq("id"), Some("del"))
    assert(staging() == before, "a committed merge leaked staging directories")
    // a regular file where the change-data directory belongs fails the
    // merge after both writes staged their output
    val blocked = cdfTable()
    Files.write(Paths.get(blocked, "_change_data"), Array.emptyByteArray)
    intercept[java.nio.file.FileAlreadyExistsException](
      DeltaInterop.merge(spark, blocked, 1L, wave, Seq("id"), Some("del")))
    assert(staging() == before, "a failed merge leaked staging directories")
  }

  /** Six waves of updates (some moving a row to another `part`), inserts,
    * tombstones and one tombstone for an absent key, merged into a 200-row
    * table; after each wave the snapshot must equal a driver-side model
    * and, under CDF, the wave's change feed the expected pre/post/insert/
    * delete rows. Returns each wave's live data-file count and Spark jobs.
    */
  private def mergeWaves(partitioned: Boolean): Seq[(Int, Int)] = {
    val out = tmp("delta_merge_waves_")
    val rnd = new scala.util.Random(20261017L)
    def part(): String = s"p${rnd.nextInt(3)}"
    val model = scala.collection.mutable.Map.empty[Long, (String, String)]
    (0L until 200L).foreach(i => model(i) = (s"v$i", part()))
    val schema = Seq((1L, "v", "p")).toDF("id", "v", "part").schema
    val base = model.toSeq.sortBy(_._1).map { case (i, (v, p)) => (i, v, p) }
    val adds =
      if (partitioned) Seq("p0", "p1", "p2").map { p =>
        onePartFile(base.filter(_._3 == p).map(r => (r._1, r._2)).toDF("id", "v"),
          Paths.get(out, s"$p.parquet"))
        s"$p.parquet"
      }
      else base.grouped(50).zipWithIndex.map { case (rows, k) =>
        onePartFile(rows.toDF("id", "v", "part"), Paths.get(out, s"f$k.parquet"))
        s"f$k.parquet"
      }.toSeq
    DeltaInterop.writeCommit(out, 0L, adds = adds, schemaJson = Some(schema.json),
      partitionColumns = if (partitioned) Seq("part") else Nil,
      partitionValues = if (partitioned) adds.map(a =>
        a -> Map("part" -> Some(a.stripSuffix(".parquet")))).toMap else Map.empty,
      configuration = if (partitioned) Map.empty
        else Map("delta.enableChangeDataFeed" -> "true"),
      stats = DeltaInterop.computeAddStats(spark, out, adds))
    var nextId = 200L
    (1 to 6).map { n =>
      val keys = rnd.shuffle(model.keys.toSeq.sorted).take(20)
      val (upd, del) = keys.splitAt(14)
      val ins = (0 until 8).map { _ => nextId += 1; nextId }
      val wave = upd.map(k => (k, s"u$n-$k", part(), false)) ++
        del.map(k => (k, "x", model(k)._2, true)) ++
        ins.map(k => (k, s"n$k", part(), false)) :+ ((10000L + n, "x", "p0", true))
      val expectedFeed = upd.flatMap(k => Seq(
          ("update_preimage", k, model(k)._1, model(k)._2),
          ("update_postimage", k, s"u$n-$k", wave.find(_._1 == k).get._3))) ++
        del.map(k => ("delete", k, model(k)._1, model(k)._2)) ++
        wave.filter(r => ins.contains(r._1)).map(r => ("insert", r._1, r._2, r._3))
      wave.foreach { case (k, v, p, d) => if (d) model.remove(k) else model(k) = (v, p) }
      val (rep, jobs) = jobsDuring(DeltaInterop.merge(spark, out, n.toLong,
        wave.toDF("id", "v", "part", "del"), Seq("id"), Some("del")))
      assert(rep.targetRowsReplaced == 20 && rep.rowsWritten == 22, s"wave $n: $rep")
      val got = DeltaInterop.importSnapshot(spark, out).select("id", "v", "part")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
      assert(got == model, s"wave $n: snapshot differs from the model")
      if (!partitioned) {
        val feed = DeltaInterop.readChangeFeed(spark, out, n.toLong, n.toLong)
          .select("_change_type", "id", "v", "part").as[(String, Long, String, String)]
          .collect().toSet
        assert(feed == expectedFeed.toSet, s"wave $n: change feed")
      }
      (DeltaInterop.liveState(spark, out).files.size, jobs)
    }
  }

  test("merge waves, unpartitioned with CDF: snapshot and change feed match the " +
    "model every wave, the file count never grows, at most 13 jobs per merge") {
    val waves = mergeWaves(partitioned = false)
    // the per-touched-file rewrite this replaced grew the table 11 -> 45
    // files over these waves and ran 22-23 jobs per merge; the stats read
    // takes the merge's data schema, so it infers none: 13 -> 12 jobs
    assert(waves.forall(_._1 <= waves.head._1), s"live files per wave: $waves")
    assert(waves.forall(_._2 == 12), s"jobs per merge: $waves")
  }

  test("merge waves, partitioned: snapshot matches the model every wave (rows move " +
    "across partitions), the file count never grows, at most 13 jobs per merge") {
    val waves = mergeWaves(partitioned = true)
    // the per-touched-file rewrite this replaced grew the table 17 -> 76
    // files over these waves and ran 17-18 jobs per merge; the stats read
    // takes the merge's data schema, so it infers none: 13 -> 12 jobs
    assert(waves.forall(_._1 <= waves.head._1), s"live files per wave: $waves")
    assert(waves.forall(_._2 == 12), s"jobs per merge: $waves")
  }

  test("Delta writers delete their staging directories: export, checkpoint and DV purge") {
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val prefixes = Seq("graft_delta_merge_", "graft_delta_cp_", "graft_dv_purge_")
    def staging(): Set[String] = {
      val s = Files.list(tmpRoot)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => prefixes.exists(n.startsWith)).toSet
      finally s.close()
    }
    val before = staging()
    // a keyed table exports through the staged merge write
    val table = tmp("delta_staging_") + "/t"
    def w(df: org.apache.spark.sql.DataFrame)(dir: String): Unit =
      df.coalesce(1).write.parquet(dir)
    VersionedTable.upsert(spark, table, Seq("id"), compactWrite = (df, dir) => w(df)(dir))(
      w((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")))
    val out = tmp("delta_staging_out_")
    DeltaInterop.exportSnapshot(spark, table, out)
    assert(staging() == before, "exportSnapshot leaked its staging directory")
    DeltaInterop.deleteWhere(spark, out, 1L, col("id") % 3 === 0)
    DeltaInterop.writeCheckpoint(spark, out, 1L, parts = 2)
    assert(staging() == before, "writeCheckpoint leaked its staging directories")
    assert(DeltaInterop.purgeDeletionVectors(spark, out, 2L) == 1)
    assert(staging() == before, "purgeDeletionVectors leaked its staging directory")
    val logNames = {
      val s = Files.list(Paths.get(out, "_delta_log"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    assert(!logNames.exists(_.endsWith(".tmp")), s"pointer temp file left behind: $logNames")
    assert(DeltaInterop.importSnapshot(spark, out).select("id").as[Long].collect().toSet ==
      (1L to 20L).filter(_ % 3 != 0).toSet)
  }

  /** The checkpoint at `version` of the table at `out`, read back raw. */
  private def checkpointRows(out: String, version: Long) =
    spark.read.parquet(Paths.get(out, "_delta_log", f"$version%020d.checkpoint.parquet").toString)

  test("a checkpoint keeps the log's protocol: writer-only features survive") {
    val out = tmp("delta_cp_proto_")
    val df = (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v")
    onePartFile(df, Paths.get(out, "a.parquet"))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet"), schemaJson = Some(df.schema.json))
    // a protocol whose writerFeatures strictly contain its readerFeatures
    val planted = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],""" +
      """"writerFeatures":["appendOnly","changeDataFeed","deletionVectors"]}}"""
    Files.write(Paths.get(out, "_delta_log", f"${1L}%020d.json"), (planted + "\n").getBytes("UTF-8"))
    DeltaInterop.writeCheckpoint(spark, out, 1L)
    val logged = mapper.readTree(planted).get("protocol")
    def strings(n: com.fasterxml.jackson.databind.JsonNode) =
      n.elements().asScala.map(_.asText()).toSeq
    val row = checkpointRows(out, 1L).filter(col("protocol").isNotNull)
      .select("protocol.*").collect().toSeq
    assert(row.size == 1)
    assert(row.head.getInt(0) == logged.get("minReaderVersion").asInt() &&
      row.head.getInt(1) == logged.get("minWriterVersion").asInt() &&
      row.head.getSeq[String](2) == strings(logged.get("readerFeatures")) &&
      row.head.getSeq[String](3) == strings(logged.get("writerFeatures")),
      s"checkpoint protocol $row differs from the log's $logged")
    assert(DeltaInterop.importSnapshot(spark, out).count() == 4L)
  }

  test("the table id is minted at v0 and kept by configuration commits, restore " +
    "and checkpoints") {
    val table = tmp("delta_id_src_") + "/t"
    VersionedTable.append(table)(dir =>
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("delta_id_")
    DeltaInterop.exportSnapshot(spark, table, out)
    val schemaJson = DeltaInterop.liveState(spark, out).schemaJson
    // the configuration commit that turns the change feed on
    DeltaInterop.writeCommit(out, 1L, adds = Nil, schemaJson = Some(schemaJson),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    // restoring v0 restores its (empty) configuration: a metaData commit
    assert(DeltaInterop.restore(spark, out, 0L).metadataRestored)
    DeltaInterop.writeCheckpoint(spark, out, 2L)
    def logged(v: Long) = Files.readAllLines(Paths.get(out, "_delta_log", f"$v%020d.json"))
      .asScala.filter(_.nonEmpty).map(mapper.readTree(_))
      .flatMap(a => Option(a.get("metaData")))
      .map(m => (m.get("id").asText(), m.get("createdTime").asLong())).toSeq
    val ids = Seq(0L, 1L, 2L).flatMap(logged)
    val cp = checkpointRows(out, 2L).filter(col("metaData").isNotNull)
      .select("metaData.id", "metaData.createdTime").as[(String, Long)].collect().toSeq
    assert(ids.size == 3 && (ids ++ cp).distinct.size == 1,
      s"metaData (id, createdTime) by v0, v1, v2, checkpoint: $ids $cp")
    // with the JSON history gone, a later metaData carries the
    // checkpoint's identity
    (0L to 2L).foreach(v => Files.delete(Paths.get(out, "_delta_log", f"$v%020d.json")))
    DeltaInterop.writeCommit(out, 3L, adds = Nil, schemaJson = Some(schemaJson))
    assert(logged(3L) == cp)
  }

  test("an external-shaped checkpoint (required columns only) imports to the rows of " +
    "its JSON log") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val out = tmp("delta_cp_ext_")
    onePartFile((1L to 3L).map(i => (i, s"a$i")).toDF("id", "v"), Paths.get(out, "a.parquet"))
    onePartFile((4L to 5L).map(i => (i, s"b$i")).toDF("id", "v"), Paths.get(out, "b.parquet"))
    onePartFile((6L to 8L).map(i => (i, s"c$i")).toDF("id", "v"), Paths.get(out, "c.parquet"))
    onePartFile((9L to 9L).map(i => (i, s"d$i")).toDF("id", "v"), Paths.get(out, "d.parquet"))
    val schema = Seq((1L, "x", "p")).toDF("id", "v", "part").schema
    val pv = Map("a.parquet" -> Map("part" -> Some("x")), "b.parquet" -> Map("part" -> None),
      "c.parquet" -> Map("part" -> Some("y")), "d.parquet" -> Map("part" -> Some("x")))
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet", "b.parquet"),
      schemaJson = Some(schema.json), partitionColumns = Seq("part"),
      partitionValues = pv.filter(p => Set("a.parquet", "b.parquet")(p._1)),
      stats = DeltaInterop.computeAddStats(spark, out, Seq("a.parquet", "b.parquet")))
    DeltaInterop.writeCommit(out, 1L, adds = Seq("c.parquet"), removes = Seq("a.parquet"),
      partitionValues = pv.filter(_._1 == "c.parquet"))
    DeltaInterop.writeCommit(out, 2L, adds = Seq("d.parquet"),
      partitionValues = pv.filter(_._1 == "d.parquet"))
    def rows() = DeltaInterop.importSnapshot(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    val want = rows()
    assert(want.map(_._1) == Set(4L, 5L, 6L, 7L, 8L, 9L))
    // the state at v1 as another writer's checkpoint spells it: no
    // add.stats, add.deletionVector, metaData.configuration or
    // protocol.readerFeatures columns, plus a remove tombstone row
    val strMap = MapType(StringType, StringType)
    val cpSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType), StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType), StructField("options", strMap)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType), StructField("partitionValues", strMap),
        StructField("size", LongType), StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType), StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType))))))
    def add(rel: String) = Row(null, null, Row(rel,
      pv(rel).map { case (k, v) => k -> v.orNull }, Files.size(Paths.get(out, rel)), 0L, false), null)
    val cpRows = Seq(
      Row(Row(1, 2), null, null, null),
      Row(null, Row("ext-id", Row("parquet", Map.empty[String, String]), schema.json,
        Seq("part"), 0L), null, null),
      add("b.parquet"), add("c.parquet"),
      Row(null, null, null, Row("a.parquet", 0L, false)))
    val staged = tmp("delta_cp_ext_stage_")
    spark.createDataFrame(cpRows.asJava, cpSchema).coalesce(1)
      .write.mode("overwrite").parquet(staged)
    val part = Files.list(Paths.get(staged)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next()
    val logDir = Paths.get(out, "_delta_log")
    Files.copy(part, logDir.resolve(f"${1L}%020d.checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"),
      "{\"version\":1,\"size\":5}\n".getBytes("UTF-8"))
    Files.delete(logDir.resolve(f"${0L}%020d.json"))
    Files.delete(logDir.resolve(f"${1L}%020d.json"))
    assert(rows() == want)
  }

  test("two exports racing into one directory: exactly one commits v0, the loser " +
    "is refused, and v0 is whole (20 trials)") {
    val plain = tmp("delta_xrace_src_") + "/t"
    (0 until 2).foreach(k => VersionedTable.append(plain)(dir =>
      (1L to 40L).map(i => (i + 100L * k, s"v$i")).toDF("id", "v").coalesce(1).write.parquet(dir)))
    val keyed = tmp("delta_xrace_keyed_") + "/t"
    VersionedTable.upsert(spark, keyed, Seq("id"),
      compactWrite = (df, dir) => df.coalesce(1).write.parquet(dir))(dir =>
      (1L to 40L).map(i => (i, s"k$i")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val pool = Executors.newFixedThreadPool(2)
    try (1 to 20).foreach { trial =>
      // odd trials copy verbatim, even ones materialize a keyed table
      val table = if (trial % 2 == 1) plain else keyed
      val out = tmp("delta_xrace_")
      val start = new CountDownLatch(1)
      val futures = (1 to 2).map { _ =>
        pool.submit(new Callable[Either[Throwable, Seq[String]]] {
          def call(): Either[Throwable, Seq[String]] = {
            start.await()
            try Right(DeltaInterop.exportSnapshot(spark, table, out))
            catch { case e: Throwable => Left(e) }
          }
        })
      }
      start.countDown()
      val outcomes = futures.map(_.get(120, TimeUnit.SECONDS))
      val winners = outcomes.collect { case Right(rels) => rels }
      assert(winners.size == 1, s"trial $trial: $outcomes")
      outcomes.collect { case Left(e) => e }.foreach(e => assert(
        e.isInstanceOf[VersionedTable.ConcurrentCommitException] ||
          e.getMessage.contains("already holds a _delta_log"), s"trial $trial: loser got $e"))
      val actions = logActions(out)
      assert(actions.count(_.has("protocol")) == 1 && actions.count(_.has("metaData")) == 1,
        s"trial $trial: $actions")
      val adds = actions.flatMap(a => Option(a.get("add")))
      assert(adds.map(_.get("path").asText()).toSet == winners.head.toSet)
      adds.foreach(a => assert(
        Files.size(Paths.get(out, a.get("path").asText())) == a.get("size").asLong(),
        s"trial $trial: $a"))
      // nothing beside the winner's files: no staged copy, no loser's part
      val onDisk = tree(out).map(_._1).filterNot(_.startsWith("_delta_log"))
      assert(onDisk.toSet == winners.head.toSet, s"trial $trial: $onDisk")
      assert(DeltaInterop.importSnapshot(spark, out).collect().toSet ==
        VersionedTable.read(spark, table).collect().toSet)
      VersionedTable.deleteRecursively(Paths.get(out))
    } finally pool.shutdown()
  }

  test("opening a table: one Spark job for a checkpointed log (one scan of all " +
    "parts), none for a JSON-only log") {
    Seq(1, 3).foreach { parts =>
      val out = checkpointedTable(parts)
      val (df, jobs) = jobsDuring(DeltaInterop.importSnapshot(spark, out))
      assert(jobs == 1, s"$parts-part checkpoint: $jobs jobs")
      assert(jobsDuring(DeltaInterop.liveState(spark, out))._2 == 1)
      assert(df.collect().map(_.getLong(0)).toSet == Set(4L, 5L))
    }
    val table = tmp("delta_jobs_src_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("delta_jobs_")
    DeltaInterop.exportSnapshot(spark, table, out)
    assert(jobsDuring(DeltaInterop.importSnapshot(spark, out))._2 == 0)
  }
}
