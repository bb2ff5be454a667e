package graft.storage

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableFileInput}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Iceberg bridge: exports must follow the spec's resolution chain
  * (version-hint → metadata.json → Avro manifest list → Avro manifests →
  * data files) with field-id-annotated Avro schemas, and the import must
  * read ONLY through that chain.
  */
class IcebergInteropSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Manifest/data paths are spec-mandated full `file:` URIs; resolve
    * them (tolerating the relative form on hand-built fixtures). */
  private def ref(out: String, s: String): java.nio.file.Path =
    if (s.startsWith("file:")) Paths.get(java.net.URI.create(s))
    else Paths.get(out).resolve(s)

  private def readAvro(p: java.nio.file.Path): (org.apache.avro.Schema, List[GenericRecord]) = {
    val r = new DataFileReader[GenericRecord](
      new SeekableFileInput(p.toFile), new GenericDatumReader[GenericRecord]())
    try (r.getSchema, r.iterator().asScala.toList) finally r.close()
  }

  test("export emits the spec structures: version hint, metadata.json, avro manifests with field ids") {
    val table = tmp("ice_src_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    VersionedTable.append(table)(dir =>
      Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_out_")
    val rels = IcebergInterop.exportSnapshot(spark, table, out)
    assert(rels.size == 2, "one copied data file per committed segment")

    val metaDir = Paths.get(out, "metadata")
    assert(new String(Files.readAllBytes(metaDir.resolve("version-hint.text")), "UTF-8").trim == "1")
    val meta = mapper.readTree(Files.readAllBytes(metaDir.resolve("v1.metadata.json")))
    assert(meta.get("format-version").asInt() == 1)
    val snapId = meta.get("current-snapshot-id").asLong()
    val fields = meta.get("schema").get("fields").elements().asScala.toList
    assert(fields.map(_.get("name").asText()) == List("id", "v"))
    assert(fields.map(_.get("id").asInt()) == List(1, 2), "field ids assigned 1..n")

    // manifest list: avro, field-id props, counts correct
    val mlPath = ref(out,
      meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == snapId).get
        .get("manifest-list").asText())
    val (mlSchema, mlRows) = readAvro(mlPath)
    assert(mlSchema.getField("manifest_path").getObjectProp("field-id") == 500)
    assert(mlSchema.getField("manifest_length").getObjectProp("field-id") == 501)
    assert(mlRows.size == 1)
    assert(mlRows.head.get("added_data_files_count") == 2)
    assert(mlRows.head.get("added_rows_count") == 3L)
    val manPath = ref(out, mlRows.head.get("manifest_path").toString)
    assert(Files.size(manPath) == mlRows.head.get("manifest_length"))

    // manifest: required v1 data_file fields, real sizes and counts
    val (mSchema, mRows) = readAvro(manPath)
    val dfSchema = mSchema.getField("data_file").schema()
    assert(dfSchema.getField("file_path").getObjectProp("field-id") == 100)
    assert(dfSchema.getField("block_size_in_bytes") != null, "v1 requires block_size_in_bytes")
    assert(mRows.size == 2 && mRows.forall(_.get("status") == 1))
    mRows.foreach { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val p = ref(out, df.get("file_path").toString)
      assert(Files.exists(p))
      assert(Files.size(p) == df.get("file_size_in_bytes"))
    }
    assert(mRows.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum == 3L)
  }

  test("round trip: keyless rows and schema survive; upsert exports the merged view") {
    val table = tmp("ice_rt_") + "/t"
    def w(df: org.apache.spark.sql.DataFrame)(d: String): Unit = df.write.parquet(d)
    val v1 = Seq((1L, "a", Seq(1.0f, 2.0f)), (2L, "b", Seq(3.0f)))
      .toDF("id", "v", "emb")
    VersionedTable.upsert(spark, table, Seq("id"),
      compactWrite = (df, d) => w(df)(d))(w(v1))
    VersionedTable.upsert(spark, table, Seq("id"),
      compactWrite = (df, d) => w(df)(d))(
      w(Seq((2L, "B2", Seq(9.0f))).toDF("id", "v", "emb")))
    val out = tmp("ice_rt_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val got = IcebergInterop.importSnapshot(spark, out)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "emb"))
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toList)).toSet
    assert(rows == Set((1L, "a", List(1.0f, 2.0f)), (2L, "B2", List(9.0f))),
      s"merged view must round-trip: $rows")
  }

  test("size gate: a truncated data file refuses before any read") {
    val table = tmp("ice_gate_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_gate_out_")
    val rels = IcebergInterop.exportSnapshot(spark, table, out)
    val victim = ref(out, rels.head)
    val bytes = Files.readAllBytes(victim)
    Files.write(victim, java.util.Arrays.copyOf(bytes, bytes.length - 1))
    val e = intercept[IllegalArgumentException](IcebergInterop.importSnapshot(spark, out))
    assert(e.getMessage.contains("size mismatch"))
  }

  test("DELETED manifest entries (status 2) are not served") {
    val table = tmp("ice_del_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    VersionedTable.append(table)(dir =>
      Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_del_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    // rewrite the manifest with one entry flipped to DELETED, preserving
    // the avro schema the export wrote
    val meta = mapper.readTree(Files.readAllBytes(
      Paths.get(out, "metadata", "v1.metadata.json")))
    val mlPath = ref(out,
      meta.get("snapshots").elements().asScala.next().get("manifest-list").asText())
    val (_, mlRows) = readAvro(mlPath)
    val manPath = ref(out, mlRows.head.get("manifest_path").toString)
    val (schema, rows) = readAvro(manPath)
    // flip the entry whose file holds id=2
    val flipped = rows.map { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val holds2 = spark.read.parquet(
        ref(out, df.get("file_path").toString).toString)
        .filter(col("id") === 2L).count() > 0
      if (holds2) e.put("status", 2)
      e
    }
    val wtr = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    Files.delete(manPath)
    wtr.create(schema, manPath.toFile)
    try flipped.foreach(wtr.append) finally wtr.close()

    val got = IcebergInterop.importSnapshot(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a")), s"deleted entry must not be served: $got")
  }

  test("convertFromDelta: metadata-only, both bridges serve the same rows, refusals hold") {
    val out = tmp("d2i_") + "/t"
    Files.createDirectories(Paths.get(out))
    def onePart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val t = Files.createTempDirectory("d2i_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t.toString)
      val part = Files.list(t).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.move(part, Paths.get(out, name))
      ()
    }
    val df = (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
    onePart(df.filter(col("id") <= 10), "a.parquet")
    onePart(df.filter(col("id") > 10 && col("id") <= 20), "b.parquet")
    DeltaInterop.writeCommit(out, 0L, adds = Seq("a.parquet", "b.parquet"),
      schemaJson = Some(df.schema.json))
    onePart(df.filter(col("id") > 20), "c.parquet")
    DeltaInterop.writeCommit(out, 1L, adds = Seq("c.parquet"),
      removes = Seq("a.parquet"))
    val dataBytesBefore = Seq("a", "b", "c")
      .map(n => Files.size(Paths.get(out, s"$n.parquet")))
    IcebergInterop.convertFromDelta(spark, out)
    // zero data movement: the same three files, byte-identical
    assert(Seq("a", "b", "c").map(n =>
      Files.size(Paths.get(out, s"$n.parquet"))) == dataBytesBefore)
    val viaIceberg = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaDelta = DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (11L to 30L).map(i => (i, s"v$i")).toSet
    assert(viaIceberg == want, "removed file must not serve through Iceberg")
    assert(viaDelta == want, "the Delta log stays authoritative for Delta readers")
    // record counts in the manifest are footer-true
    val (_, recs) = readAvro(Files.list(Paths.get(out, "metadata"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith("-m0.avro")).next())
    assert(recs.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum == 20L)
    // re-conversion refuses (metadata present)
    val eAgain = intercept[IllegalArgumentException](
      IcebergInterop.convertFromDelta(spark, out))
    assert(eAgain.getMessage.contains("already holds"))
    // DV'd table refuses: a converted snapshot would resurrect masked rows
    val outDv = tmp("d2i_dv_") + "/t"
    Files.createDirectories(Paths.get(outDv))
    val t2 = Files.createTempDirectory("d2i_dv_part_")
    df.coalesce(1).write.mode("overwrite").parquet(t2.toString)
    Files.move(Files.list(t2).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next(),
      Paths.get(outDv, "a.parquet"))
    DeltaInterop.writeCommit(outDv, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(df.schema.json))
    DeltaInterop.deleteWhere(spark, outDv, 1L, col("id") === 1L)
    val eDv = intercept[IllegalArgumentException](
      IcebergInterop.convertFromDelta(spark, outDv))
    assert(eDv.getMessage.contains("deletion vectors"))
  }

  test("convertFromDelta: identity-partitioned table converts, values ride the manifests, both bridges agree") {
    val out = tmp("d2i_p_") + "/t"
    Files.createDirectories(Paths.get(out))
    def onePart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val t = Files.createTempDirectory("d2i_pp_")
      df.coalesce(1).write.mode("overwrite").parquet(t.toString)
      val part = Files.list(t).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.move(part, Paths.get(out, name))
      ()
    }
    // the true Delta physical shape: data files LACK the partition column
    val df = Seq((1L, "x", "en"), (2L, "y", "en"), (3L, "z", "de"),
      (4L, "w", null)).toDF("id", "v", "lang")
    val schemaJson = df.schema.json
    Seq(("en", "p0.parquet"), ("de", "p1.parquet"), (null, "p2.parquet"))
      .foreach { case (l, n) =>
        onePart(df.filter(col("lang") <=> lit(l)).drop("lang"), n)
      }
    DeltaInterop.writeCommit(out, 0L,
      adds = Seq("p0.parquet", "p1.parquet", "p2.parquet"),
      schemaJson = Some(schemaJson), partitionColumns = Seq("lang"),
      partitionValues = Map(
        "p0.parquet" -> Map("lang" -> Some("en")),
        "p1.parquet" -> Map("lang" -> Some("de")),
        "p2.parquet" -> Map("lang" -> None)))
    val sizesBefore = Seq("p0", "p1", "p2")
      .map(n => Files.size(Paths.get(out, s"$n.parquet")))
    IcebergInterop.convertFromDelta(spark, out)
    assert(Seq("p0", "p1", "p2").map(n =>
      Files.size(Paths.get(out, s"$n.parquet"))) == sizesBefore,
      "metadata-only: zero data bytes move")
    def rows3(d: org.apache.spark.sql.DataFrame) = d
      .select(col("id"), col("v"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = Set((1L, "x", "en"), (2L, "y", "en"), (3L, "z", "de"),
      (4L, "w", null: String))
    assert(rows3(IcebergInterop.importSnapshot(spark, out)) == want,
      "identity values must serve from the manifest partition structs")
    assert(rows3(DeltaInterop.importSnapshot(spark, out)) == want,
      "the Delta log stays authoritative for Delta readers")
    // the written spec is a real identity spec over the source column
    val meta = new String(Files.readAllBytes(
      Paths.get(out, "metadata", "v1.metadata.json")), "UTF-8")
    assert(meta.contains("\"transform\":\"identity\"") ||
      meta.contains("\"transform\" : \"identity\""))
    // TIMESTAMP partitions transcode (round 17, VERDICT r16 missing #2):
    // Delta's 'yyyy-MM-dd HH:mm:ss[.SSSSSS]' string ↔ Iceberg's long
    // micros-from-epoch — UTC instants on both sides, micro-exact
    val outT = tmp("d2i_pt_") + "/t"
    Files.createDirectories(Paths.get(outT))
    val td = Seq((1L, "2024-01-05 10:30:00.123456"),
      (2L, "2024-01-05 10:30:00.123456"), (3L, "2024-02-01 00:00:00"))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp").as("hour_ts"))
    Seq(("2024-01-05 10:30:00.123456", "t0.parquet"),
      ("2024-02-01 00:00:00", "t1.parquet")).foreach { case (v, n) =>
      val t = Files.createTempDirectory("d2i_pt_part_")
      td.filter(col("hour_ts") === lit(v).cast("timestamp")).drop("hour_ts")
        .coalesce(1).write.mode("overwrite").parquet(t.toString)
      val part = Files.list(t).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.move(part, Paths.get(outT, n))
      ()
    }
    DeltaInterop.writeCommit(outT, 0L, adds = Seq("t0.parquet", "t1.parquet"),
      schemaJson = Some(td.schema.json), partitionColumns = Seq("hour_ts"),
      partitionValues = Map(
        "t0.parquet" -> Map("hour_ts" -> Some("2024-01-05 10:30:00.123456")),
        "t1.parquet" -> Map("hour_ts" -> Some("2024-02-01 00:00:00"))))
    IcebergInterop.convertFromDelta(spark, outT)
    val wantT = td.collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(IcebergInterop.importSnapshot(spark, outT)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet == wantT,
      "timestamp partition values must transcode micro-exactly")
    // the manifest really carries micros (not a string smuggled through)
    val manT = Files.list(Paths.get(outT, "metadata")).iterator().asScala
      .find(_.getFileName.toString.endsWith("-m0.avro")).get
    val entT = readAvro(manT)._2.head.get("data_file")
      .asInstanceOf[GenericRecord].get("partition").asInstanceOf[GenericRecord]
    assert(Set(1704450600123456L, 1706745600000000L).contains(
      entT.get("hour_ts").asInstanceOf[Long]))
    // a still-unsupported partition type refuses loudly (not silently NULL)
    val outD = tmp("d2i_pd_") + "/t"
    Files.createDirectories(Paths.get(outD))
    val dd = Seq((1L, 1.5)).toDF("id", "ratio")
    locally {
      val t = Files.createTempDirectory("d2i_pd_part_")
      dd.drop("ratio").coalesce(1).write.mode("overwrite").parquet(t.toString)
      val part = Files.list(t).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.move(part, Paths.get(outD, "d0.parquet"))
    }
    DeltaInterop.writeCommit(outD, 0L, adds = Seq("d0.parquet"),
      schemaJson = Some(dd.schema.json), partitionColumns = Seq("ratio"),
      partitionValues = Map("d0.parquet" -> Map("ratio" -> Some("1.5"))))
    val eT = intercept[IllegalArgumentException](
      IcebergInterop.convertFromDelta(spark, outD))
    assert(eT.getMessage.contains("string/int/long/date/timestamp"))
  }

  test("timestamp partitions transcode the REVERSE leg too (Iceberg micros → Delta string)") {
    val df = Seq((1L, "2024-03-01 08:00:00.000001"), (2L, "2024-03-01 08:00:00.000001"),
      (3L, "2024-03-02 09:15:30"))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp").as("bucket_ts"))
    val out = tmp("i2d_ts_")
    IcebergFixtures.writePartitionedV1(spark, out, df, "bucket_ts")
    DeltaInterop.convertFromIceberg(spark, out)
    val want = df.collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(DeltaInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet == want)
    // the Delta log carries the PROTOCOL.md string serialization
    val log0 = new String(Files.readAllBytes(Paths.get(out,
      "_delta_log", "00000000000000000000.json")), "UTF-8")
    assert(log0.contains("2024-03-01 08:00:00.000001"), log0.take(500))
  }

  test("convertFromDelta: NAME-mode column-mapped table converts via Iceberg name " +
      "mapping; rename-as-metadata serves the new name; id mode refuses") {
    // the real UniForm shape (round 17, VERDICT r16 missing #1): data
    // files carry PHYSICAL column names ('col-p*'), the Delta schema maps
    // them to logical names, and 'language' was RENAMED from 'lang'
    // post-write (same id/physicalName — the rename is metadata-only on
    // BOTH sides). The Iceberg view must serve logical names through the
    // schema.name-mapping.default property.
    val out = tmp("d2i_nm_") + "/t"
    Files.createDirectories(Paths.get(out))
    def mf(name: String, dt: org.apache.spark.sql.types.DataType, id: Long,
        phys: String) =
      org.apache.spark.sql.types.StructField(name, dt, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build())
    import org.apache.spark.sql.types.{LongType, StringType => SStr}
    val v0 = org.apache.spark.sql.types.StructType(Seq(
      mf("doc_id", LongType, 1, "col-p1"), mf("lang", SStr, 2, "col-p2"),
      mf("body", SStr, 3, "col-p3")))
    val v1 = org.apache.spark.sql.types.StructType(Seq(
      mf("doc_id", LongType, 1, "col-p1"),
      mf("language", SStr, 2, "col-p2"), // rename: same id + physical
      mf("body", SStr, 3, "col-p3")))
    val conf = Map("delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> "3")
    val rows = Seq((1L, "en", "aa"), (2L, "en", "bb"), (3L, "de", "cc"),
      (4L, null, "dd"))
    def physSlice(l: String, name: String): Unit = {
      val t = Files.createTempDirectory("d2i_nm_part_")
      rows.filter(r => r._2 == l).map(r => (r._1, r._3)).toDF("a", "b")
        .select(col("a").as("col-p1"), col("b").as("col-p3"))
        .coalesce(1).write.mode("overwrite").parquet(t.toString)
      val part = Files.list(t).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.move(part, Paths.get(out, name))
      ()
    }
    physSlice("en", "p0.parquet"); physSlice("de", "p1.parquet")
    physSlice(null, "p2.parquet")
    // partitioned by the MAPPED column: partitionValues keyed by its
    // PHYSICAL name, per PROTOCOL.md "Column Mapping"
    DeltaInterop.writeCommit(out, 0L,
      adds = Seq("p0.parquet", "p1.parquet", "p2.parquet"),
      schemaJson = Some(v0.json), configuration = conf,
      protocolVersions = Some((2, 5)),
      partitionColumns = Seq("lang"),
      partitionValues = Map(
        "p0.parquet" -> Map("col-p2" -> Some("en")),
        "p1.parquet" -> Map("col-p2" -> Some("de")),
        "p2.parquet" -> Map("col-p2" -> None)))
    // the rename lands as a metadata-only commit before conversion
    DeltaInterop.writeCommit(out, 1L, adds = Nil, schemaJson = Some(v1.json),
      configuration = conf, partitionColumns = Seq("language"))
    val sizesBefore = Seq("p0", "p1", "p2")
      .map(n => Files.size(Paths.get(out, s"$n.parquet")))
    IcebergInterop.convertFromDelta(spark, out)
    assert(Seq("p0", "p1", "p2").map(n =>
      Files.size(Paths.get(out, s"$n.parquet"))) == sizesBefore,
      "metadata-only: zero data bytes move")
    val meta = new String(Files.readAllBytes(
      Paths.get(out, "metadata", "v1.metadata.json")), "UTF-8")
    assert(meta.contains("schema.name-mapping.default"),
      "conversion must write the name-mapping property")
    assert(meta.contains("col-p2"), "mapping must carry physical names")
    def rows3(d: org.apache.spark.sql.DataFrame) = {
      assert(d.schema.fieldNames.toSeq == Seq("doc_id", "language", "body"),
        s"logical (renamed) names must serve: ${d.schema.fieldNames.mkString(",")}")
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    }
    val want = rows.map(r => (r._1, r._2, r._3)).toSet
    assert(rows3(IcebergInterop.importSnapshot(spark, out)) == want,
      "name mapping must resolve the physical files to logical columns")
    assert(rows3(DeltaInterop.importSnapshot(spark, out)) == want,
      "the Delta log stays authoritative for Delta readers")
    // id mode refuses with the resolution rationale
    val outId = tmp("d2i_idm_") + "/t"
    Files.createDirectories(Paths.get(outId))
    locally {
      val t = Files.createTempDirectory("d2i_idm_part_")
      Seq((1L, "x")).toDF("a", "b")
        .select(col("a").as("w1"), col("b").as("w2"))
        .coalesce(1).write.mode("overwrite").parquet(t.toString)
      val part = Files.list(t).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      Files.move(part, Paths.get(outId, "a.parquet"))
    }
    DeltaInterop.writeCommit(outId, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(org.apache.spark.sql.types.StructType(Seq(
        mf("id", LongType, 1, "col-q1"), mf("v", SStr, 2, "col-q2"))).json),
      configuration = Map("delta.columnMapping.mode" -> "id",
        "delta.columnMapping.maxColumnId" -> "2"),
      protocolVersions = Some((2, 5)))
    val e = intercept[IllegalArgumentException](
      IcebergInterop.convertFromDelta(spark, outId))
    assert(e.getMessage.contains("id-mode"), e.getMessage)
  }

  test("name-mapping import refuses a field the mapping does not cover (never null-fills)") {
    // an EXTERNAL name-mapped table whose mapping lost a field: Iceberg
    // semantics would silently serve NULLs for it — the bridge refuses
    val table = tmp("ice_nm_src_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "x")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_nm_miss_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val metaPath = Paths.get(out, "metadata", "v1.metadata.json")
    val metaJson = new String(Files.readAllBytes(metaPath), "UTF-8")
      .replace("\"properties\" : { }",
        """"properties" : { "schema.name-mapping.default" :
          |  "[{\"field-id\":1,\"names\":[\"id\"]}]" }""".stripMargin)
    assert(metaJson.contains("name-mapping"), "fixture edit must apply")
    Files.write(metaPath, metaJson.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      IcebergInterop.importSnapshot(spark, out))
    assert(e.getMessage.contains("no entry for field 'v'"), e.getMessage)
  }

  test("non-identity transforms import when the files carry the source columns (bucket+truncate)") {
    val df = Seq((1L, "en", "x"), (2L, "de", "y"), (3L, "en", "z"),
      (4L, "fr", "w"), (5L, "de", "q")).toDF("id", "lang", "txt")
    val out = tmp("ice_xf_")
    IcebergFixtures.writeTransformPartitionedV1(spark, out, df, Seq(
      ("id_bucket", "bucket[4]", "id", pmod(col("id"), lit(4L)).cast("int")),
      ("lang_trunc", "truncate[1]", "lang", substring(col("lang"), 1, 1))))
    val got = IcebergInterop.importSnapshot(spark, out)
    assert(got.schema.fieldNames.toSeq == Seq("id", "lang", "txt"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "en", "x"), (2L, "de", "y"), (3L, "en", "z"),
        (4L, "fr", "w"), (5L, "de", "q")))
  }

  test("days transform imports the same way (temporal source column read from files)") {
    val df = Seq((1L, 86400L * 3), (2L, 86400L * 3 + 7), (3L, 86400L * 9))
      .toDF("id", "secs")
      .select(col("id"), timestamp_seconds(col("secs")).as("ts"))
    val out = tmp("ice_days_")
    IcebergFixtures.writeTransformPartitionedV1(spark, out, df, Seq(
      ("ts_day", "days", "ts",
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("int"))))
    val got = IcebergInterop.importSnapshot(spark, out)
    assert(got.count() == 3 &&
      got.select(col("id")).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("metadata-only migrated shape (files LACK the transform source) refuses naming the file") {
    val df = Seq((1L, "en"), (2L, "de")).toDF("id", "lang")
    val out = tmp("ice_xf_miss_")
    IcebergFixtures.writeTransformPartitionedV1(spark, out, df, Seq(
      ("id_bucket", "bucket[4]", "id", pmod(col("id"), lit(4L)).cast("int"))),
      omitSourceColumns = true)
    // prove the fixture files really lack the source column
    assert(!spark.read.parquet(Paths.get(out, "data").toString)
      .schema.fieldNames.contains("id"))
    val e = intercept[IllegalArgumentException](
      IcebergInterop.importSnapshot(spark, out).collect())
    assert(e.getMessage.contains("metadata-only migrated") &&
      e.getMessage.contains("bucket[4]") && e.getMessage.contains("p0.parquet"),
      e.getMessage)
  }

  test("mixed spec: identity field restores from the manifest while a bucket source reads from files") {
    val df = Seq((1L, "en", "x"), (2L, "de", "y"), (3L, "en", "z"))
      .toDF("id", "lang", "txt")
    val out = tmp("ice_xf_mixed_")
    IcebergFixtures.writeTransformPartitionedV1(spark, out, df, Seq(
      ("lang", "identity", "lang", col("lang")),
      ("id_bucket", "bucket[2]", "id", pmod(col("id"), lit(2L)).cast("int"))))
    val got = IcebergInterop.importSnapshot(spark, out)
    assert(got.schema.fieldNames.toSeq == Seq("id", "lang", "txt"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "en", "x"), (2L, "de", "y"), (3L, "en", "z")))
  }

  test("a column rename in the schema history refuses (by-name read would serve NULLs)") {
    val table = tmp("ice_ren_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_ren_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val metaFile = Paths.get(out, "metadata", "v1.metadata.json")
    val meta = mapper.readTree(Files.readAllBytes(metaFile))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    // rewrite as v2-style schema history: schema-id 0 = the original,
    // schema-id 1 renames field id 2 from "v" to "w"
    val s0 = meta.get("schema").deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val s1 = s0.deepCopy()
    s1.put("schema-id", 1)
    val renamed = s1.withArray("fields").elements()
    while (renamed.hasNext) {
      val f = renamed.next().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      if (f.get("id").asInt() == 2) f.put("name", "w")
    }
    meta.putArray("schemas").add(s0).add(s1)
    meta.put("current-schema-id", 1)
    Files.write(metaFile, mapper.writeValueAsBytes(meta))
    val e = intercept[IllegalArgumentException](IcebergInterop.importSnapshot(spark, out))
    assert(e.getMessage.contains("renamed"), e.getMessage)
    // add-only evolution (a THIRD schema appending a fresh field id) is fine
    val meta2 = mapper.readTree(Files.readAllBytes(metaFile))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val arr = meta2.withArray("schemas")
    arr.removeAll()
    val s2 = s0.deepCopy(); s2.put("schema-id", 2)
    val nf = s2.withArray("fields").addObject()
    nf.put("id", 99); nf.put("name", "extra"); nf.put("required", false)
    nf.put("type", "long")
    arr.add(s0).add(s2)
    meta2.put("current-schema-id", 2)
    Files.write(metaFile, mapper.writeValueAsBytes(meta2))
    val got = IcebergInterop.importSnapshot(spark, out)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    val r = got.collect().head
    assert(r.getLong(0) == 1L && r.getString(1) == "a" && r.isNullAt(2))
  }

  test("appendSnapshot: carried/removed/added files; asOfSnapshotId time-travels") {
    val table = tmp("ice_snap_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    VersionedTable.append(table)(dir =>
      Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_snap_out_")
    val rels = IcebergInterop.exportSnapshot(spark, table, out)
    val firstSnap = mapper.readTree(Files.readAllBytes(
      Paths.get(out, "metadata", "v1.metadata.json"))).get("current-snapshot-id").asLong()

    // snapshot 2: drop the file holding (3,c), add (4,d)+(5,e)
    val victim = rels.find { r =>
      spark.read.parquet(ref(out, r).toString)
        .filter(col("id") === 3L).count() > 0
    }.get
    val snap2 = IcebergInterop.appendSnapshot(spark, out,
      Seq((4L, "d"), (5L, "e")).toDF("id", "v").coalesce(1), removePaths = Seq(victim))

    // version hint advanced; current reads the new state
    assert(new String(Files.readAllBytes(
      Paths.get(out, "metadata", "version-hint.text")), "UTF-8").trim == "2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(IcebergInterop.importSnapshot(spark, out)) ==
      Set((1L, "a"), (2L, "b"), (4L, "d"), (5L, "e")))
    // the RETAINED first snapshot still serves the pre-rewrite state
    assert(rows(IcebergInterop.importSnapshot(spark, out,
      asOfSnapshotId = Some(firstSnap))) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(snap2 != firstSnap)
    // the new manifest carries the kept file as EXISTING (status 0)
    val meta2 = mapper.readTree(Files.readAllBytes(
      Paths.get(out, "metadata", "v2.metadata.json")))
    val ml2 = ref(out,
      meta2.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == snap2).get
        .get("manifest-list").asText())
    val (_, mlRows) = readAvro(ml2)
    assert(mlRows.head.get("existing_data_files_count") == 1)
    assert(mlRows.head.get("added_data_files_count") == 1)
    // schema mismatch refuses
    val e = intercept[IllegalArgumentException](IcebergInterop.appendSnapshot(
      spark, out, Seq((1L, 2L)).toDF("id", "n")))
    assert(e.getMessage.contains("schema"))
  }

  test("appendSnapshot keeps each carried EXISTING entry's adding snapshot id") {
    val table = tmp("ice_sid_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_sid_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    def meta(v: Int) = mapper.readTree(Files.readAllBytes(
      Paths.get(out, "metadata", s"v$v.metadata.json")))
    val snap1 = meta(1).get("current-snapshot-id").asLong()
    val snap2 = IcebergInterop.appendSnapshot(spark, out,
      Seq((2L, "b")).toDF("id", "v").coalesce(1))
    val snap3 = IcebergInterop.appendSnapshot(spark, out,
      Seq((3L, "c")).toDF("id", "v").coalesce(1))
    val snap = meta(3).get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == snap3).get
    val entries = readAvro(ref(out, snap.get("manifest-list").asText()))._2
      .flatMap(m => readAvro(ref(out, m.get("manifest_path").toString))._2)
    // each file holds one row; its id names the snapshot that added it
    val byRow = entries.map { e =>
      val path = e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
      spark.read.parquet(ref(out, path).toString).head().getLong(0) ->
        ((e.get("status").asInstanceOf[Int], e.get("snapshot_id").asInstanceOf[Long]))
    }.toMap
    assert(byRow == Map(1L -> ((0, snap1)), 2L -> ((0, snap2)), 3L -> ((1, snap3))))
  }

  /** The (`file_path`, `pos`) rows of each live position-delete file of
    * the current snapshot, in file order.
    */
  private def positionDeleteFiles(out: String): Seq[Seq[(String, Long)]] = {
    val v = new String(Files.readAllBytes(
      Paths.get(out, "metadata", "version-hint.text")), "UTF-8").trim
    val meta = mapper.readTree(Files.readAllBytes(
      Paths.get(out, "metadata", s"v$v.metadata.json")))
    val cur = meta.get("current-snapshot-id").asLong()
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == cur).get
    def content(r: GenericRecord) =
      if (r.getSchema.getField("content") == null) 0 else r.get("content").asInstanceOf[Int]
    readAvro(ref(out, snap.get("manifest-list").asText()))._2.filter(content(_) != 0)
      .flatMap(m => readAvro(ref(out, m.get("manifest_path").toString))._2)
      .filter(e => e.get("status").asInstanceOf[Int] != 2)
      .map(_.get("data_file").asInstanceOf[GenericRecord])
      .filter(content(_) == 1)
      .map { df =>
        spark.read.parquet(ref(out, df.get("file_path").toString).toString)
          .select("file_path", "pos").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      }
  }

  test("every position-delete writer sorts its file by (file_path, pos)") {
    // twelve partition files p0…p11: their value order is not their
    // path order (p10 < p2)
    val df = (0L until 60L).map(i => (i, s"v$i", f"g${i % 12}%02d")).toDF("id", "v", "lang")
    val out = tmp("ice_pdsort_")
    IcebergFixtures.writeV2WithDeletes(spark, out, df.drop("lang"), "id", col("id") % 3 =!= 0)
    val pOut = tmp("ice_pdsort_p_") + "/ice"
    IcebergFixtures.writePartitionedV2WithDeletes(spark, pOut, df, "id", "lang",
      col("id") % 3 =!= 0)
    IcebergInterop.deleteWhere(spark, out, col("id") % 3 === 0)
    Seq(out, pOut).foreach { o =>
      val files = positionDeleteFiles(o)
      assert(files.nonEmpty && files.forall(_.nonEmpty), s"$o: no position deletes")
      files.foreach(rows => assert(rows == rows.sorted, s"$o: unsorted position deletes $rows"))
    }
  }

  /** The current snapshot's manifest entries: file path → (status,
    * record count, the four stat maps with bounds as bytes).
    */
  private def currentEntries(out: String): Map[String, (Int, Long, Seq[(String, Any)])] = {
    val metaDir = Paths.get(out, "metadata")
    val v = new String(Files.readAllBytes(metaDir.resolve("version-hint.text")), "UTF-8").trim
    val meta = mapper.readTree(Files.readAllBytes(metaDir.resolve(s"v$v.metadata.json")))
    val cur = meta.get("current-snapshot-id").asLong()
    val ml = ref(out, meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == cur).get.get("manifest-list").asText())
    def stats(d: GenericRecord): Seq[(String, Any)] =
      Seq("value_counts", "null_value_counts", "lower_bounds", "upper_bounds").map { f =>
        f -> Option(d.get(f)).map(_.asInstanceOf[java.util.Collection[GenericRecord]]
          .asScala.toSeq.map(kv => kv.get("key") -> (kv.get("value") match {
            case b: java.nio.ByteBuffer =>
              val dup = b.duplicate(); val a = new Array[Byte](dup.remaining()); dup.get(a)
              a.toSeq
            case other => other
          })))
      }
    readAvro(ml)._2.flatMap(m => readAvro(ref(out, m.get("manifest_path").toString))._2)
      .map { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        d.get("file_path").toString ->
          ((e.get("status").asInstanceOf[Int], d.get("record_count").asInstanceOf[Long], stats(d)))
      }.toMap
  }

  test("appendSnapshot reads only the new files' footers: the 1st and 10th append run the " +
    "same jobs, carried entries keep their manifest counts and stats byte for byte") {
    def frame(k: Int) = spark.range(k * 1000L, (k + 1) * 1000L)
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("v")).coalesce(1)
    val table = tmp("ice_append_") + "/t"
    VersionedTable.append(table)(dir => frame(0).write.parquet(dir))
    val out = tmp("ice_append_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val jobs = (1 to 10).map { k =>
      val prior = currentEntries(out)
      val (_, n) = jobsDuring(IcebergInterop.appendSnapshot(spark, out, frame(k)))
      val now = currentEntries(out)
      prior.foreach { case (path, (_, records, stats)) =>
        assert(now(path) == ((0, records, stats)), s"append $k changed carried entry $path")
      }
      val added = now -- prior.keys
      assert(added.size == 1 && added.values.forall { case (status, records, stats) =>
        status == 1 && records == 1000L && stats.forall(_._2 != None)
      }, s"append $k: $added")
      n
    }
    // the data write and one footer pass over the new file: no schema
    // inference, no counting aggregation, no footer reads of carried files
    assert(jobs.forall(_ == 2), s"jobs per append: $jobs")
    assert(IcebergInterop.importSnapshot(spark, out).count() == 11000L)
  }

  test("upsertCdc and rewriteDataFiles run a fixed number of Spark jobs") {
    val out = tmp("ice_cdc_jobs_") + "/ice"
    IcebergFixtures.writeV2WithDeletes(spark, out,
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), "id", col("id") % 5 === 0)
    val cdcJobs = (1 to 3).map { k =>
      jobsDuring(IcebergInterop.upsertCdc(spark, out,
        Seq((k.toLong, s"U$k", false), (100L + k, "N", false), (10L + k, "x", true))
          .toDF("id", "v", "del"), Seq("id"), Some("del")))._2
    }
    val (_, compactJobs) = jobsDuring(IcebergInterop.rewriteDataFiles(spark, out))
    val pOut = tmp("ice_cdc_jobs_p_") + "/ice"
    IcebergFixtures.writePartitionedV2WithDeletes(spark, pOut,
      Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "de", "c")).toDF("id", "lang", "v"),
      "id", "lang", col("id") === 2L)
    val (_, pCdcJobs) = jobsDuring(IcebergInterop.upsertCdc(spark, pOut,
      Seq((1L, "fr", "A", false), (4L, "de", "d", false)).toDF("id", "lang", "v", "del"),
      Seq("id"), Some("del")))
    val (_, pCompactJobs) = jobsDuring(IcebergInterop.rewriteDataFiles(spark, pOut))
    // manifests, manifest lists and metadata are written without Spark:
    // they add no job to the writers' Spark work
    assert(cdcJobs.forall(_ == 7) && pCdcJobs == 7,
      s"jobs per upsertCdc: $cdcJobs, partitioned $pCdcJobs")
    assert(compactJobs == 12 && pCompactJobs == 9,
      s"jobs per rewriteDataFiles: $compactJobs, partitioned $pCompactJobs")
  }

  test("identity-partitioned v1 import: partition column restored from manifest metadata, NULL included") {
    // the Hive-migrated shape: data files DO NOT contain the partition
    // column — its only home is the manifest entry partition struct
    val df = Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"))
      .toDF("id", "v", "pl")
      .union(Seq((4L, "d")).toDF("id", "v").withColumn("pl", lit(null: String)))
    val out = tmp("ice_pfix_")
    IcebergFixtures.writePartitionedV1(spark, out, df, "pl")
    // prove the files really lack the column
    val raw = spark.read.parquet(Paths.get(out, "data").toString)
    assert(!raw.schema.fieldNames.contains("pl"), "fixture files must not carry pl")
    val got = IcebergInterop.importSnapshot(spark, out)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "pl"))
    assert(got.schema("pl").dataType == org.apache.spark.sql.types.StringType)
    val rows = got.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.getString(2)).getOrElse("<null>"))).toSet
    assert(rows == Set((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"),
      (4L, "d", "<null>")), s"partition values must restore: $rows")
  }

  test("v2 position deletes are applied: deleted rows absent, survivors intact") {
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val out = tmp("ice_v2_")
    IcebergFixtures.writeV2WithDeletes(spark, out, df, "id", col("id") % 5 === 0)
    val got = IcebergInterop.importSnapshot(spark, out)
    val ids = got.collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 20L).filter(_ % 5 != 0).toSet,
      s"rows named by the position-delete file must be absent: $ids")
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    // and the v column of a survivor adjacent to a deleted row is intact
    // (an off-by-one in pos handling would surface exactly here)
    val v4 = got.filter(col("id") === 4L).collect().head.getString(1)
    val v6 = got.filter(col("id") === 6L).collect().head.getString(1)
    assert(v4 == "v4" && v6 == "v6")
  }

  test("v2 equality deletes: applied with sequence gating; malformed (no equality_ids) refuses") {
    // sequence-observable history: file A (even ids, seq 1), equality
    // delete v='del' (seq 2), file B (odd ids, seq 3) — the delete must
    // remove A's matches only; B's matches were re-inserted later
    val df = (1L to 12L).map(i => (i, if (i % 3 == 0) "del" else s"v$i")).toDF("id", "v")
    val out = tmp("ice_v2eq_")
    IcebergFixtures.writeV2EqualityDeletes(spark, out, df, "id", "v", "del")
    val got = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (1L to 12L).map(i => (i, if (i % 3 == 0) "del" else s"v$i"))
      .filterNot { case (i, v) => i % 2 == 0 && v == "del" }.toSet
    assert(got == want,
      s"seq-1 matches deleted, seq-3 matches survive: got $got")
    // a content=2 entry WITHOUT equality_ids is malformed — refuse by name
    val df2 = (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
    val out2 = tmp("ice_v2eqbad_")
    IcebergFixtures.writeV2WithDeletes(spark, out2, df2, "id",
      col("id") === 1L, equalityInstead = true)
    val e = intercept[IllegalArgumentException](IcebergInterop.importSnapshot(spark, out2))
    assert(e.getMessage.contains("without equality_ids"))
  }

  test("deleteWhereEquality: engine-written content=2 file, blind key tuples, sequence-gated on read") {
    import spark.implicits._
    // fixture history: file A (even ids, seq 1), fixture eq-delete v='x'
    // (seq 2), file B (odd ids, seq 3) — so id 2 ('x', seq 1) is dead,
    // id 1 ('x', seq 3) is a post-delete re-insert and lives
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y"), (5L, "z"),
      (6L, "z")).toDF("id", "v")
    val out = tmp("ice_eqdelw_")
    IcebergFixtures.writeV2EqualityDeletes(spark, out, df, "id", "v", "x")
    val flagBefore = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    // the ENGINE's delete lands at seq 4 — ABOVE both data files, so
    // matches in A (seq 1) and B (seq 3) both die
    val n = IcebergInterop.deleteWhereEquality(spark, out,
      Seq("y", "y").toDF("v"), Seq("v")) // duplicate tuple dedupes
    assert(n == 1L, s"one distinct delete tuple, got $n")
    val got = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "x"), (5L, "z"), (6L, "z")),
      s"post-delete re-insert survives, both 'y' rows die: $got")
    // the written manifest carries the schema field id in equality_ids
    val eqMan = Files.list(java.nio.file.Paths.get(out, "metadata"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("eqdelw-"))
      .toSeq
    assert(eqMan.size == 1)
    val (_, recs) = readAvro(eqMan.head)
    val dfr = recs.head.get("data_file").asInstanceOf[GenericRecord]
    assert(dfr.get("content").asInstanceOf[Int] == 2)
    assert(dfr.get("equality_ids").asInstanceOf[java.util.Collection[_]]
      .asScala.toSeq == Seq(2)) // 'v' is schema field id 2
    // ADVICE r16: the delete PARQUET itself carries the field id — real
    // Iceberg readers resolve equality-delete columns by id, never name
    val delPath = dfr.get("file_path").toString.stripPrefix("file:")
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(delPath),
      new org.apache.hadoop.conf.Configuration())
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val pqFields = try rd.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(f => (f.getName, Option(f.getId).map(_.intValue))).toSeq
    finally rd.close()
    assert(pqFields == Seq(("v", Some(2))),
      s"delete parquet must carry parquet field id 2 on 'v': $pqFields")
    // and the write flag did not leak into the caller's session
    assert(spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
      == flagBefore, "fieldId.write flag must be save/restored")
    // empty delete set is a no-op (no snapshot appended)
    val hint0 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "version-hint.text")), "UTF-8")
    assert(IcebergInterop.deleteWhereEquality(spark, out,
      spark.emptyDataFrame.select(lit("q").as("v")).filter(lit(false)),
      Seq("v")) == 0L)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(
      out, "metadata", "version-hint.text")), "UTF-8") == hint0)
    // unknown equality column refuses by name
    val e = intercept[IllegalArgumentException](
      IcebergInterop.deleteWhereEquality(spark, out,
        Seq("a").toDF("nope"), Seq("nope")))
    assert(e.getMessage.contains("'nope'"))
    // column-set mismatch refuses
    val e2 = intercept[IllegalArgumentException](
      IcebergInterop.deleteWhereEquality(spark, out,
        Seq(("a", 1L)).toDF("v", "id"), Seq("v")))
    assert(e2.getMessage.contains("exactly the equality columns"))
  }

  test("deleteWhereEquality on a PARTITIONED table: global delete under an " +
      "unpartitioned spec, ADDED to the metadata when absent") {
    import spark.implicits._
    // identity-partitioned fixture WITHOUT a declared empty spec — the
    // engine must add one in the delete commit (v2 spec: every manifest's
    // partition_spec_id names a spec in the partition-specs list)
    val df = Seq((1L, "en", "a"), (2L, "en", "b"), (3L, "de", "c"),
      (4L, "de", "d"), (5L, "fr", "e"), (6L, "fr", "f"))
      .toDF("id", "lang", "v")
    val out = tmp("ice_eqdelp_")
    IcebergFixtures.writePartitionedV2WithDeletes(
      spark, out, df, "id", "lang", col("id") === 2L,
      declareGlobalSpec = false)
    // pre-delete sanity: position wave applied, partition restored
    assert(IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "en"), (3L, "de"), (4L, "de"), (5L, "fr"), (6L, "fr")))
    val n = IcebergInterop.deleteWhereEquality(spark, out,
      Seq(3L, 5L).toDF("id"), Seq("id"))
    assert(n == 2L)
    val got = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "en", "a"), (4L, "de", "d"), (6L, "fr", "f")),
      s"both delete planes must compose across partitions: $got")
    // the commit ADDED the unpartitioned spec and the manifest names it
    val metaJson = IcebergInterop.mapper.readTree(Files.readAllBytes(
      Paths.get(out, "metadata", "v3.metadata.json")))
    val specIds = metaJson.get("partition-specs").elements().asScala
      .map(s => s.get("spec-id").asInt() -> s.get("fields").size()).toMap
    assert(specIds == Map(0 -> 1, 1 -> 0),
      s"expected the added empty spec-id 1: $specIds")
    // a fixture that DOES declare the empty spec gets it REUSED (no dup)
    val out2 = tmp("ice_eqdelp2_")
    IcebergFixtures.writePartitionedV2WithDeletes(
      spark, out2, df, "id", "lang", col("id") === 2L)
    IcebergInterop.deleteWhereEquality(spark, out2, Seq(3L).toDF("id"), Seq("id"))
    val metaJson2 = IcebergInterop.mapper.readTree(Files.readAllBytes(
      Paths.get(out2, "metadata", "v3.metadata.json")))
    assert(metaJson2.get("partition-specs").size() == 2,
      "declared empty spec must be reused, never duplicated")
  }

  test("deleteWhere: v2 delete snapshot — idempotent, time-travelable, v1 refuses") {
    val out = tmp("ice_delw_")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    IcebergFixtures.writeV2WithDeletes(spark, out, df, "id",
      col("id") % 10 === 1) // wave 1: 10 rows via fixture deletes
    val meta0 = mapper.readTree(Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "v2.metadata.json")))
    val snap0 = meta0.get("current-snapshot-id").asLong()

    val n = IcebergInterop.deleteWhere(spark, out, col("id") % 10 === 2)
    assert(n == 10L, s"wave 2 must delete 10 fresh rows, got $n")
    val got = IcebergInterop.importSnapshot(spark, out)
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 100L).filter(i => i % 10 != 1 && i % 10 != 2).toSet)

    // idempotence: the same predicate again deletes NOTHING new (and a
    // predicate overlapping wave 1 only counts the fresh rows)
    assert(IcebergInterop.deleteWhere(spark, out, col("id") % 10 === 2) == 0L)
    val overlap = IcebergInterop.deleteWhere(spark, out, col("id") % 5 === 1)
    assert(overlap == 10L, // %5==1 hits %10==1 (dead) and %10==6 (alive)
      s"overlap wave must re-delete only the live half, got $overlap")

    // time travel: the pre-delete snapshot still serves every row
    val before = IcebergInterop.importSnapshot(spark, out,
      asOfSnapshotId = Some(snap0))
      .select("id").as[Long].collect().toSet
    assert(before == (0L until 100L).filter(_ % 10 != 1).toSet,
      "asOf the fixture snapshot: only wave-1 deletes apply")

    // v1 tables refuse (no sequence numbers)
    val v1t = tmp("ice_delw_v1_") + "/t"
    VersionedTable.append(v1t)(d =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(d))
    val v1out = tmp("ice_delw_v1o_")
    IcebergInterop.exportSnapshot(spark, v1t, v1out)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.deleteWhere(spark, v1out, col("id") === 1L)
    }
    assert(e.getMessage.contains("format-v1"))
  }

  test("position-delete files carry the reserved parquet field ids: both fixtures and deleteWhere") {
    def footerIds(p: java.nio.file.Path): Seq[(String, Option[Int])] = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), new org.apache.hadoop.conf.Configuration()))
      try rd.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => (f.getName, Option(f.getId).map(_.intValue))).toSeq
      finally rd.close()
    }
    val reserved = Seq(("file_path", Some(2147483546)), ("pos", Some(2147483545)))
    val out = tmp("ice_posids_")
    IcebergFixtures.writeV2WithDeletes(spark, out,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), "id", col("id") === 1L)
    assert(footerIds(Paths.get(out, "data", "del0.parquet")) == reserved)
    assert(IcebergInterop.deleteWhere(spark, out, col("id") === 2L) == 1L)
    val written = listNames(Paths.get(out, "data")).filter(_.startsWith("delete-")).toSeq
    assert(written.size == 1 && footerIds(Paths.get(out, "data", written.head)) == reserved)
    val pOut = tmp("ice_posids_p_")
    IcebergFixtures.writePartitionedV2WithDeletes(spark, pOut,
      Seq((1L, "en", "a"), (2L, "de", "b")).toDF("id", "lang", "v"), "id", "lang", col("id") === 2L)
    assert(footerIds(Paths.get(pOut, "data", "del0.parquet")) == reserved)
    // the ids change nothing for the reader, which resolves by name
    assert(IcebergInterop.importSnapshot(spark, out).select("id").as[Long].collect().toSet ==
      (3L to 10L).toSet)
  }

  test("appendSnapshot refuses format-v2 tables") {
    val df = (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v")
    val out = tmp("ice_v2app_")
    IcebergFixtures.writeV2WithDeletes(spark, out, df, "id", col("id") === 1L)
    val e = intercept[IllegalArgumentException](IcebergInterop.appendSnapshot(
      spark, out, Seq((9L, "x")).toDF("id", "v")))
    assert(e.getMessage.contains("format-v"))
  }

  test("refuses to clobber existing metadata; unsupported types refuse on export") {
    val table = tmp("ice_ref_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_ref_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    intercept[IllegalArgumentException](IcebergInterop.exportSnapshot(spark, table, out))
    // a map column has no mapping in this bridge's declared subset
    val mapTable = tmp("ice_map_") + "/t"
    VersionedTable.append(mapTable)(dir =>
      Seq((1L, Map("k" -> 1L))).toDF("id", "m").coalesce(1).write.parquet(dir))
    val out2 = tmp("ice_map_out_")
    val e = intercept[IllegalArgumentException](
      IcebergInterop.exportSnapshot(spark, mapTable, out2))
    assert(e.getMessage.contains("no Iceberg mapping"))
  }

  test("expireSnapshots: history gone, current serves, expired-only data files reclaimed") {
    val table = tmp("ice_exp_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    VersionedTable.append(table)(dir =>
      Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_exp_out_")
    val rels = IcebergInterop.exportSnapshot(spark, table, out)
    val firstSnap = mapper.readTree(Files.readAllBytes(
      Paths.get(out, "metadata", "v1.metadata.json"))).get("current-snapshot-id").asLong()
    // snapshot 2 drops the (3,c) file — that file is then referenced ONLY
    // by snapshot 1 and must be physically reclaimed by its expiration
    val victim = rels.find { r =>
      spark.read.parquet(ref(out, r).toString).filter(col("id") === 3L).count() > 0
    }.get
    IcebergInterop.appendSnapshot(spark, out,
      Seq((4L, "d")).toDF("id", "v").coalesce(1), removePaths = Seq(victim))
    val victimPath = ref(out, victim)
    assert(Files.exists(victimPath))

    val rep = IcebergInterop.expireSnapshots(out, keepLast = 1)
    assert(rep.expiredSnapshotIds == Seq(firstSnap))
    assert(rep.deletedManifestLists.nonEmpty)
    assert(rep.deletedDataFiles.exists(_.endsWith(victimPath.getFileName.toString)),
      s"expired-only file not reclaimed: ${rep.deletedDataFiles}")
    assert(!Files.exists(victimPath))
    // current snapshot serves unchanged
    val rows = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (4L, "d")))
    // time travel to the expired snapshot refuses by name
    val e = intercept[IllegalArgumentException](
      IcebergInterop.importSnapshot(spark, out, asOfSnapshotId = Some(firstSnap)))
    assert(e.getMessage.contains("not in the snapshots list"))
    // expiring again is a no-op
    assert(IcebergInterop.expireSnapshots(out, keepLast = 1).expiredSnapshotIds.isEmpty)
  }

  test("expireSnapshots keeps shared data files; removeOrphanFiles only reclaims debris") {
    val table = tmp("ice_orph_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_orph_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    // snapshot 2 ADDS a file; snapshot 1's file stays shared (EXISTING)
    IcebergInterop.appendSnapshot(spark, out,
      Seq((3L, "c")).toDF("id", "v").coalesce(1))
    val orphan = Paths.get(out, "data", "zz-debris.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    val rep = IcebergInterop.expireSnapshots(out, keepLast = 1)
    assert(rep.deletedDataFiles.isEmpty, s"shared files reclaimed: ${rep.deletedDataFiles}")
    val gone = IcebergInterop.removeOrphanFiles(out)
    assert(gone.exists(_.endsWith("zz-debris.parquet")) && !Files.exists(orphan))
    assert(IcebergInterop.importSnapshot(spark, out).count() == 3)
    // keepLast beyond history is a no-op
    assert(IcebergInterop.expireSnapshots(out, keepLast = 10).expiredSnapshotIds.isEmpty)
  }

  test("timestamp time travel resolves through the snapshot-log; pre-history refuses") {
    val table = tmp("ice_ts_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_ts_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    // exportSnapshot writes an empty snapshot-log (fixture-era layout);
    // appendSnapshot logs its commit — resolve between the two commits
    IcebergInterop.appendSnapshot(spark, out,
      Seq((2L, "b")).toDF("id", "v").coalesce(1))
    val meta = mapper.readTree(Files.readAllBytes(Paths.get(out, "metadata",
      s"v${new String(Files.readAllBytes(Paths.get(out, "metadata", "version-hint.text")), "UTF-8").trim}.metadata.json")))
    val logEntries = meta.get("snapshot-log").elements().asScala.toSeq
    val t2 = logEntries.map(_.get("timestamp-ms").asLong()).max
    val rows = IcebergInterop.importSnapshot(spark, out, asOfTimestampMs = Some(t2))
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L))
    val e = intercept[IllegalArgumentException](
      IcebergInterop.importSnapshot(spark, out, asOfTimestampMs = Some(0L)))
    assert(e.getMessage.contains("no snapshot at or before"))
    intercept[IllegalArgumentException](IcebergInterop.importSnapshot(
      spark, out, asOfSnapshotId = Some(1L), asOfTimestampMs = Some(t2)))
  }

  test("upsertCdc: one snapshot carries the equality-delete file AND the wave's " +
    "data files; strict sequence gating makes the same-commit upsert atomic") {
    val out = tmp("ice_cdc_") + "/ice"
    val df = (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
    // base v2 table with POSITION deletes on multiples of 5 (composition)
    IcebergFixtures.writeV2WithDeletes(spark, out, df, "id", col("id") % 5 === 0)
    // wave: updates (3, 7), an update of the position-DEAD id 10 (CDC
    // re-insert), a tombstone (4), an insert (31)
    val wave = Seq((3L, "U3", false), (7L, "U7", false), (10L, "U10", false),
      (4L, "x", true), (31L, "N31", false)).toDF("id", "v", "del")
    val rep = IcebergInterop.upsertCdc(spark, out, wave, Seq("id"), Some("del"))
    assert(rep.deleteTuples == 5 && rep.rowsWritten == 4, s"$rep")
    val got = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // 24 position-live rows - matched {3,7} - tombstoned {4} + 4 wave rows
    assert(got.size == 25, s"got ${got.size}")
    assert(got(3L) == "U3" && got(7L) == "U7", "wave rows survive their own delete file")
    assert(got(10L) == "U10", "a position-dead key re-inserts")
    assert(got(31L) == "N31" && !got.contains(4L) && !got.contains(5L))
    assert(got(1L) == "v1" && got(29L) == "v29")
    // a second wave composes at the next sequence: its delete kills the
    // FIRST wave's row (seq N < N+1) while its own survives
    val rep2 = IcebergInterop.upsertCdc(spark, out,
      Seq((3L, "U3b", false)).toDF("id", "v", "del"), Seq("id"), Some("del"))
    assert(rep2.deleteTuples == 1 && rep2.rowsWritten == 1)
    val got2 = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got2(3L) == "U3b" && got2.size == 25)
    // guards
    val eDup = intercept[IllegalArgumentException](IcebergInterop.upsertCdc(spark, out,
      Seq((1L, "a", false), (1L, "b", false)).toDF("id", "v", "del"), Seq("id"), Some("del")))
    assert(eDup.getMessage.contains("duplicate"))
    val v1t = tmp("ice_cdc_v1_") + "/t"
    VersionedTable.append(v1t)(d =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(d))
    val v1o = tmp("ice_cdc_v1o_")
    IcebergInterop.exportSnapshot(spark, v1t, v1o)
    val eV1 = intercept[IllegalArgumentException](IcebergInterop.upsertCdc(
      spark, v1o, Seq((1L, "b")).toDF("id", "v"), Seq("id")))
    assert(eV1.getMessage.contains("sequence numbers"))
  }

  test("upsertCdc on an IDENTITY-partitioned table: wave rows route per " +
    "partition with typed manifest structs, the delete is global (cross-" +
    "partition moves work), the delete spec entry is unpartitioned") {
    val pOut = tmp("ice_cdc_p_") + "/ice"
    IcebergFixtures.writePartitionedV2WithDeletes(spark, pOut,
      Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "de", "c"))
        .toDF("id", "lang", "v"),
      "id", "lang", col("id") === 2L)
    def rows() = IcebergInterop.importSnapshot(spark, pOut)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows() == Set((1L, "en", "a"), (3L, "de", "c")))
    // update 1 IN PLACE, move 3 ACROSS partitions (de -> fr), re-insert
    // the position-dead 2 under a NEW partition value, insert 4
    val wave = Seq((1L, "en", "A", false), (3L, "fr", "C", false),
      (2L, "xx", "B", false), (4L, "de", "d", false), (9L, "zz", "t", true))
      .toDF("id", "lang", "v", "del")
    val rep = IcebergInterop.upsertCdc(spark, pOut, wave, Seq("id"), Some("del"))
    assert(rep.deleteTuples == 5 && rep.rowsWritten == 4, s"$rep")
    assert(rows() == Set((1L, "en", "A"), (3L, "fr", "C"),
      (2L, "xx", "B"), (4L, "de", "d")))
    // partition census through the metadata tables: typed struct values
    val parts = IcebergInterop.metadataTable(spark, pOut, "partitions")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(parts.keySet.contains("fr") && parts.keySet.contains("xx"), s"$parts")
    // a second wave supersedes the first at the next sequence
    IcebergInterop.upsertCdc(spark, pOut,
      Seq((3L, "de", "C2", false)).toDF("id", "lang", "v", "del"),
      Seq("id"), Some("del"))
    assert(rows() == Set((1L, "en", "A"), (3L, "de", "C2"),
      (2L, "xx", "B"), (4L, "de", "d")))
    // metadata declares exactly one unpartitioned spec for the deletes
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(Paths.get(pOut, "metadata")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".metadata.json"))
        .toSeq.sortBy(_.getFileName.toString).last), "UTF-8")
    val specsNode = mapper.readTree(metaJson).get("partition-specs")
    val emptySpecs = (0 until specsNode.size()).map(specsNode.get)
      .count(_.get("fields").size() == 0)
    assert(emptySpecs == 1, "the global-delete spec entry lands exactly once")
  }

  test("incrementalAppendScan: exactly the appended rows per range, replace " +
    "snapshots skip, delete/overwrite snapshots and non-ancestor ranges refuse") {
    val table = tmp("ice_inc_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_inc_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val snapA = IcebergInterop.resolveRef(out, "main")
    val snapB = IcebergInterop.appendSnapshot(spark, out,
      Seq((3L, "c")).toDF("id", "v").coalesce(1))
    val snapC = IcebergInterop.appendSnapshot(spark, out,
      Seq((4L, "d"), (5L, "e")).toDF("id", "v").coalesce(1))
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
    assert(ids(IcebergInterop.incrementalAppendScan(spark, out, snapA, snapC)) == Set(3L, 4L, 5L))
    assert(ids(IcebergInterop.incrementalAppendScan(spark, out, snapA, snapB)) == Set(3L))
    assert(ids(IcebergInterop.incrementalAppendScan(spark, out, snapB, snapC)) == Set(4L, 5L))
    assert(ids(IcebergInterop.incrementalAppendScan(spark, out, snapC, snapC)) == Set.empty)
    assert(intercept[IllegalArgumentException](
      IcebergInterop.incrementalAppendScan(spark, out, snapC, snapA))
      .getMessage.contains("not an ancestor"))
    assert(intercept[IllegalArgumentException](
      IcebergInterop.incrementalAppendScan(spark, out, 42L, snapC))
      .getMessage.contains("not in the snapshots"))
    // v2: a CDC overwrite in the range refuses; a compaction-only range is empty
    val out2 = tmp("ice_inc_v2_") + "/ice"
    IcebergFixtures.writeV2WithDeletes(spark, out2,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), "id", col("id") > 100)
    val base2 = IcebergInterop.resolveRef(out2, "main")
    IcebergInterop.upsertCdc(spark, out2,
      Seq((3L, "U3", false)).toDF("id", "v", "del"), Seq("id"), Some("del"))
    val cdcSnap = IcebergInterop.resolveRef(out2, "main")
    assert(intercept[IllegalArgumentException](
      IcebergInterop.incrementalAppendScan(spark, out2, base2, cdcSnap))
      .getMessage.contains("append-only"))
    IcebergInterop.rewriteDataFiles(spark, out2)
    val compactSnap = IcebergInterop.resolveRef(out2, "main")
    assert(ids(IcebergInterop.incrementalAppendScan(
      spark, out2, cdcSnap, compactSnap)) == Set.empty,
      "a replace-only range is data-invisible")
  }

  test("evolveSchema: add-column + int->long promotion are metadata-only; old " +
    "files serve NULL / widened values; unsafe changes refuse") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val table = tmp("ice_evo_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "score", "v")
        .coalesce(1).write.parquet(dir))
    val out = tmp("ice_evo_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val sid = IcebergInterop.evolveSchema(out,
      addColumns = Seq("note" -> StringType),
      promote = Map("score" -> "long"))
    assert(sid == 1)
    // the evolved schema is served immediately: old files NULL-fill the
    // added column and widen the promoted one
    val got = IcebergInterop.importSnapshot(spark, out)
    assert(got.schema("score").dataType == LongType)
    assert(got.schema("note").dataType == StringType)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      Option(r.getString(3)))).toSet
      == Set((1L, 10L, "a", None), (2L, 20L, "b", None)))
    // appends under the NEW schema compose with pre-evolution files
    IcebergInterop.appendSnapshot(spark, out,
      Seq((3L, 30L, "c", "n3")).toDF("id", "score", "v", "note").coalesce(1))
    val got2 = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(3)))).toSet
    assert(got2 == Set((1L, 10L, None), (2L, 20L, None), (3L, 30L, Some("n3"))))
    // refusals: lossy promotion, unknown column, add-collision, nothing
    assert(intercept[IllegalArgumentException](IcebergInterop.evolveSchema(out,
      promote = Map("score" -> "int"))).getMessage.contains("not lossless"))
    assert(intercept[IllegalArgumentException](IcebergInterop.evolveSchema(out,
      promote = Map("nope" -> "long"))).getMessage.contains("unknown column"))
    assert(intercept[IllegalArgumentException](IcebergInterop.evolveSchema(out,
      addColumns = Seq("v" -> IntegerType))).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      IcebergInterop.evolveSchema(out)).getMessage.contains("nothing to evolve"))
  }

  test("metadataTable: snapshots/history/refs/files/manifests/partitions served " +
    "from pure metadata; rollback flips ancestor flags") {
    val table = tmp("ice_mt_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_mt_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val snapA = IcebergInterop.resolveRef(out, "main")
    val snapB = IcebergInterop.appendSnapshot(spark, out,
      Seq((3L, "c")).toDF("id", "v").coalesce(1))
    IcebergInterop.createRef(out, "tg", "tag", Some(snapA))
    val snaps = IcebergInterop.metadataTable(spark, out, "snapshots").collect()
    assert(snaps.length == 2)
    val bRow = snaps.find(_.getLong(0) == snapB).get
    assert(bRow.getLong(1) == snapA, "parent chain must ride the snapshots table")
    val hist = IcebergInterop.metadataTable(spark, out, "history").collect()
    assert(hist.length == 1 && hist(0).getLong(1) == snapB && hist(0).getBoolean(2))
    val refs = IcebergInterop.metadataTable(spark, out, "refs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs == Set(("main", "branch", snapB), ("tg", "tag", snapA)))
    val files = IcebergInterop.metadataTable(spark, out, "files").collect()
    assert(files.length == 2 && files.forall(_.getInt(0) == 0))
    assert(files.map(r => r.getLong(4)).sorted.toSeq == Seq(1L, 2L),
      "record counts come from the manifests")
    // appendSnapshot writes ONE full-rewrite v1 manifest (carried + new)
    val mans = IcebergInterop.metadataTable(spark, out, "manifests").collect()
    assert(mans.length == 1 && mans.forall(_.getInt(2) == 0))
    // rollback: the rolled-past snapshot's history entry flips to false
    IcebergInterop.rollbackTo(out, snapA)
    val hist2 = IcebergInterop.metadataTable(spark, out, "history").collect()
      .map(r => (r.getLong(1), r.getBoolean(2))).toSet
    assert(hist2 == Set((snapB, false), (snapA, true)), s"$hist2")
    // partitions: typed values from the manifest structs, NULL included
    val pout = tmp("ice_mt_p_") + "/ice"
    IcebergFixtures.writePartitionedV1(spark, pout,
      Seq((1L, "x", "p1"), (2L, "y", "p1"), (3L, "z", null))
        .toDF("id", "v", "part"), "part")
    val parts = IcebergInterop.metadataTable(spark, pout, "partitions").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(parts == Set((Some("p1"), 1L, 2L), (None, 1L, 1L)), s"$parts")
    assert(intercept[IllegalArgumentException](
      IcebergInterop.metadataTable(spark, out, "nope")).getMessage
      .contains("unknown metadata table"))
  }

  test("rollbackTo: current flips back metadata-only, history stays " +
    "time-travelable, sequence numbers keep climbing afterwards") {
    val table = tmp("ice_rb_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_rb_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val snapA = IcebergInterop.resolveRef(out, "main")
    val snapB = IcebergInterop.appendSnapshot(spark, out,
      Seq((3L, "c")).toDF("id", "v").coalesce(1))
    val snapC = IcebergInterop.appendSnapshot(spark, out,
      Seq((4L, "d")).toDF("id", "v").coalesce(1))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    IcebergInterop.rollbackTo(out, snapB)
    assert(rows(IcebergInterop.importSnapshot(spark, out))
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the rolled-past snapshot is still in the list (append-only history)
    assert(rows(IcebergInterop.importSnapshot(spark, out,
      asOfSnapshotId = Some(snapC))) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a post-rollback append forks from B, not C
    IcebergInterop.appendSnapshot(spark, out,
      Seq((5L, "e")).toDF("id", "v").coalesce(1))
    assert(rows(IcebergInterop.importSnapshot(spark, out))
      == Set((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")))
    // refusals
    assert(intercept[IllegalArgumentException](
      IcebergInterop.rollbackTo(out, 42L)).getMessage.contains("not in the snapshots"))
    assert(intercept[IllegalArgumentException](
      IcebergInterop.rollbackTo(out,
        IcebergInterop.resolveRef(out, "main"))).getMessage.contains("already current"))

    // v2 leg: rollback past a CDC wave must not rewind last-sequence-number —
    // the NEXT wave's deletes still gate strictly above every historical file
    val out2 = tmp("ice_rb_v2_") + "/ice"
    IcebergFixtures.writeV2WithDeletes(spark, out2,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), "id", col("id") > 100)
    val base = IcebergInterop.resolveRef(out2, "main")
    IcebergInterop.upsertCdc(spark, out2,
      Seq((3L, "U3", false)).toDF("id", "v", "del"), Seq("id"), Some("del"))
    IcebergInterop.rollbackTo(out2, base)
    assert(rows(IcebergInterop.importSnapshot(spark, out2))
      == (1L to 10L).map(i => (i, s"v$i")).toSet)
    IcebergInterop.upsertCdc(spark, out2,
      Seq((4L, "U4", false)).toDF("id", "v", "del"), Seq("id"), Some("del"))
    val got = rows(IcebergInterop.importSnapshot(spark, out2))
    assert(got.contains((4L, "U4")) && got.contains((3L, "v3")) && got.size == 10,
      s"post-rollback wave must supersede the base row: $got")
  }

  test("rewriteDataFiles: compaction applies every delete, leaves zero delete " +
    "files, is invisible to the census, and the table stays writable") {
    val out = tmp("ice_compact_") + "/ice"
    val df = (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
    IcebergFixtures.writeV2WithDeletes(spark, out, df, "id", col("id") % 5 === 0)
    val wave = Seq((3L, "U3", false), (4L, "x", true), (10L, "U10", false))
      .toDF("id", "v", "del")
    IcebergInterop.upsertCdc(spark, out, wave, Seq("id"), Some("del"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = rows(IcebergInterop.importSnapshot(spark, out))
    val preSnap = IcebergInterop.resolveRef(out, "main")
    val rep = IcebergInterop.rewriteDataFiles(spark, out)
    assert(rep.posDeleteFilesBefore == 1 && rep.eqDeleteFilesBefore == 1, s"$rep")
    assert(rep.dataFilesAfter == 1 && rep.rowsWritten == before.size, s"$rep")
    assert(rows(IcebergInterop.importSnapshot(spark, out)) == before,
      "compaction must be invisible")
    // time travel to the pre-compaction snapshot still serves (old files kept)
    assert(rows(IcebergInterop.importSnapshot(spark, out,
      asOfSnapshotId = Some(preSnap))) == before)
    // a post-compaction wave lands at the next sequence and gates correctly
    IcebergInterop.upsertCdc(spark, out,
      Seq((3L, "U3b", false)).toDF("id", "v", "del"), Seq("id"), Some("del"))
    val got = rows(IcebergInterop.importSnapshot(spark, out))
    assert(got == before - ((3L, "U3")) + ((3L, "U3b")))
    // second compaction collapses the new wave's delete file too
    val rep2 = IcebergInterop.rewriteDataFiles(spark, out)
    assert(rep2.eqDeleteFilesBefore == 1 && rep2.posDeleteFilesBefore == 0, s"$rep2")
    assert(rows(IcebergInterop.importSnapshot(spark, out)) == got)
    // v1 tables refuse (nothing to collapse)
    val v1t = tmp("ice_compact_v1_") + "/t"
    VersionedTable.append(v1t)(d =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(d))
    val v1o = tmp("ice_compact_v1o_")
    IcebergInterop.exportSnapshot(spark, v1t, v1o)
    assert(intercept[IllegalArgumentException](
      IcebergInterop.rewriteDataFiles(spark, v1o)).getMessage.contains("v1"))
    // identity-partitioned tables compact: partition structs restored on
    // the rewritten entries, delete debt collapsed, census identical
    val pOut = tmp("ice_compact_p_") + "/ice"
    IcebergFixtures.writePartitionedV2WithDeletes(spark, pOut,
      Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "de", "c"))
        .toDF("id", "lang", "v"),
      "id", "lang", col("id") === 2L)
    IcebergInterop.upsertCdc(spark, pOut,
      Seq((1L, "fr", "A", false)).toDF("id", "lang", "v", "del"),
      Seq("id"), Some("del"))
    def prows() = IcebergInterop.importSnapshot(spark, pOut)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val pBefore = prows()
    assert(pBefore == Set((1L, "fr", "A"), (3L, "de", "c")))
    val pRep = IcebergInterop.rewriteDataFiles(spark, pOut)
    assert(pRep.posDeleteFilesBefore == 1 && pRep.eqDeleteFilesBefore == 1, s"$pRep")
    assert(prows() == pBefore, "partitioned compaction must be invisible")
    val pParts = IcebergInterop.metadataTable(spark, pOut, "partitions")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(pParts == Map("fr" -> 1L, "de" -> 1L),
      s"rewritten entries must keep their partition structs: $pParts")
  }

  test("refs: tags/branches pin snapshots by name, main resolves implicitly, " +
    "expiration honors pins until the ref drops") {
    val table = tmp("ice_ref_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_ref_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val snapA = IcebergInterop.resolveRef(out, "main")
    assert(IcebergInterop.createRef(out, "audit-v1", "tag") == snapA,
      "tag defaults to the current snapshot")
    val snapB = IcebergInterop.appendSnapshot(spark, out,
      Seq((3L, "c")).toDF("id", "v").coalesce(1))
    IcebergInterop.appendSnapshot(spark, out,
      Seq((4L, "d")).toDF("id", "v").coalesce(1))
    assert(IcebergInterop.createRef(out, "exp", "branch", Some(snapB)) == snapB,
      "branch pins an explicit older snapshot")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(IcebergInterop.importSnapshotRef(spark, out, "audit-v1"))
      == Set((1L, "a"), (2L, "b")))
    assert(rows(IcebergInterop.importSnapshotRef(spark, out, "exp"))
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(IcebergInterop.importSnapshotRef(spark, out, "main"))
      == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // contract refusals
    assert(intercept[IllegalArgumentException](
      IcebergInterop.createRef(out, "audit-v1", "tag")).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      IcebergInterop.createRef(out, "main", "branch")).getMessage.contains("implicit"))
    assert(intercept[IllegalArgumentException](
      IcebergInterop.createRef(out, "x", "label")).getMessage.contains("branch|tag"))
    assert(intercept[IllegalArgumentException](
      IcebergInterop.createRef(out, "x", "tag", Some(42L))).getMessage
      .contains("not in the snapshots list"))
    val eUnk = intercept[IllegalArgumentException](
      IcebergInterop.importSnapshotRef(spark, out, "nope"))
    assert(eUnk.getMessage.contains("audit-v1") && eUnk.getMessage.contains("exp"),
      s"unknown-ref error must name the known refs: ${eUnk.getMessage}")
    // keepLast=1 would expire A and B — both are ref-pinned, nothing goes
    assert(IcebergInterop.expireSnapshots(out, keepLast = 1).expiredSnapshotIds.isEmpty)
    // dropping the branch releases B; the tag still protects A
    IcebergInterop.dropRef(out, "exp")
    val rep = IcebergInterop.expireSnapshots(out, keepLast = 1)
    assert(rep.expiredSnapshotIds == Seq(snapB))
    assert(rows(IcebergInterop.importSnapshotRef(spark, out, "audit-v1"))
      == Set((1L, "a"), (2L, "b")), "tag-pinned snapshot survives expiration")
    intercept[IllegalArgumentException](
      IcebergInterop.importSnapshotRef(spark, out, "exp"))
    intercept[IllegalArgumentException](
      IcebergInterop.importSnapshot(spark, out, asOfSnapshotId = Some(snapB)))
    intercept[IllegalArgumentException](IcebergInterop.dropRef(out, "exp"))
  }

  /** Runs the `writers` together on `pool` (a pool of at least as many
    * threads): each waits, spinning, until all have started, so they leave
    * the gate within microseconds of each other. Each outcome is None when
    * the writer returned, Some(error) when it threw.
    */
  private def race[K](pool: ExecutorService,
      writers: Seq[(K, () => Unit)]): Seq[(K, Option[Throwable])] = {
    val arrived = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = writers.map { case (_, write) =>
      pool.submit(new Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          arrived.incrementAndGet()
          while (arrived.get() < writers.size) Thread.onSpinWait()
          try { write(); None } catch { case e: Throwable => Some(e) }
        }
      })
    }
    writers.map(_._1).zip(futures.map(_.get(120, TimeUnit.SECONDS)))
  }

  private def listNames(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("createRef: two writers racing one metadata version — exactly one lands, the " +
    "loser gets ConcurrentCommitException, the winner's tag resolves (200 trials)") {
    val table = tmp("ice_race_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val base = tmp("ice_race_base_")
    IcebergInterop.exportSnapshot(spark, table, base)
    val snap = IcebergInterop.resolveRef(base, "main")
    // a long ref history (v2: 2000 tags) makes each writer's read-to-publish
    // window milliseconds wide, far wider than the skew between the threads
    val meta = mapper.readTree(Files.readAllBytes(Paths.get(base, "metadata", "v1.metadata.json")))
    val refs = meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].putObject("refs")
    (1 to 2000).foreach(i => refs.putObject(s"pad-$i").put("snapshot-id", snap).put("type", "tag"))
    IcebergInterop.publish(Paths.get(base, "metadata"), 2L, meta)
    val hint = 2L
    val pool = Executors.newFixedThreadPool(2)
    val outcomes = try (1 to 200).map { trial =>
      // refs touch only the metadata: each trial races on a fresh copy of it
      val out = tmp("ice_race_trial_")
      Files.createDirectories(Paths.get(out, "metadata"))
      Seq("version-hint.text", s"v$hint.metadata.json").foreach(n =>
        Files.copy(Paths.get(base, "metadata", n), Paths.get(out, "metadata", n)))
      val outcome = race(pool, Seq("tag-a", "tag-b").map(tag =>
        tag -> (() => { IcebergInterop.createRef(out, tag, "tag"); () })))
      val winners = outcome.collect { case (tag, None) => tag }
      val losers = outcome.collect { case (_, Some(e)) => e }
      val resolved = winners.filter(tag =>
        scala.util.Try(IcebergInterop.resolveRef(out, tag)).toOption.contains(snap))
      // both writers return only when one finished before the other read
      // the table: then both commits must have landed, one version apart
      val serialized = winners.size == 2 && resolved.size == 2 &&
        Files.exists(Paths.get(out, "metadata", s"v${hint + 2}.metadata.json"))
      val problem =
        if (serialized) None
        else if (winners.size != 1) Some(s"${winners.size} writers returned: $outcome")
        else if (!losers.forall(_.isInstanceOf[VersionedTable.ConcurrentCommitException]))
          Some(s"the loser got $losers")
        else if (resolved.isEmpty) Some(s"the winner's ${winners.head} does not resolve")
        else None
      VersionedTable.deleteRecursively(Paths.get(out))
      (trial, serialized, problem)
    } finally pool.shutdown()
    val failed = outcomes.collect { case (trial, _, Some(p)) => s"trial $trial: $p" }
    assert(failed.isEmpty,
      s"${failed.size} of 200 trials broke the contract; first: ${failed.take(3).mkString("; ")}")
    val raced = outcomes.count(!_._2)
    info(s"$raced of 200 trials overlapped the two writers")
    assert(raced >= 100, s"only $raced of 200 trials overlapped the two writers")
  }

  test("upsertCdc: two waves racing one version — exactly one commits, the table serves " +
    "exactly the winner's rows, removeOrphanFiles reclaims the loser's files (20 trials)") {
    val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
    // (explicitly set?, value read) — an unset key reads as its default
    def fieldIds(): (Boolean, Option[String]) =
      (spark.conf.getAll.contains(fieldIdKey), spark.conf.getOption(fieldIdKey))
    def setFieldIds(v: Option[String]): Unit =
      v.fold(spark.conf.unset(fieldIdKey))(spark.conf.set(fieldIdKey, _))
    val original = spark.conf.getAll.get(fieldIdKey)
    try Seq(None, Some("false")).foreach { setting =>
      setFieldIds(setting)
      val confBefore = fieldIds()
      assert(confBefore._1 == setting.nonEmpty)
      val out = tmp("ice_cdc_race_") + "/ice"
      IcebergFixtures.writeV2WithDeletes(spark, out,
        (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v"), "id", col("id") % 5 === 0)
      val model = scala.collection.mutable.Map(
        (1L to 30L).filter(_ % 5 != 0).map(i => i -> s"v$i"): _*)
      def served(): Map[Long, String] = IcebergInterop.importSnapshot(spark, out)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val dataDir = Paths.get(out, "data")
      val pool = Executors.newFixedThreadPool(2)
      try (1 to 20).foreach { trial =>
        // disjoint keys: each wave updates its own base row and inserts two
        val waves = Map(
          "A" -> Seq(1L, 100L * trial + 1, 100L * trial + 2).map(_ -> s"A$trial"),
          "B" -> Seq(2L, 100L * trial + 51, 100L * trial + 52).map(_ -> s"B$trial"))
        val reports = new java.util.concurrent.ConcurrentHashMap[String, IcebergInterop.CdcReport]()
        val before = listNames(dataDir)
        val outcomes = race(pool, waves.toSeq.map { case (w, rows) =>
          val wave = rows.toDF("id", "v")
          w -> (() => { reports.put(w, IcebergInterop.upsertCdc(spark, out, wave, Seq("id"))); () })
        })
        // overlapping writers share the field-id flag: the last one out
        // restores the session's own setting
        assert(fieldIds() == confBefore,
          s"trial $trial: the race left $fieldIdKey at ${fieldIds()}, was $confBefore")
        val winners = outcomes.collect { case (w, None) => w }
        assert(winners.size == 1, s"trial $trial: $outcomes")
        outcomes.collect { case (_, Some(e)) => e }.foreach(e => assert(
          e.isInstanceOf[VersionedTable.ConcurrentCommitException], s"trial $trial: loser got $e"))
        waves(winners.head).foreach { case (k, v) => model(k) = v }
        assert(served() == model.toMap, s"trial $trial: the table does not serve the winner's rows")
        val added = listNames(dataDir) -- before
        val gone = IcebergInterop.removeOrphanFiles(out).map(Paths.get(_).getFileName.toString)
        // what stays is the winner's data files and its equality-delete file
        assert(gone.nonEmpty && gone.toSet.subsetOf(added) &&
          added.size - gone.size == reports.get(winners.head).dataFiles + 1,
          s"trial $trial: added $added, reclaimed $gone")
        assert(served() == model.toMap, s"trial $trial: reclaiming orphans changed the table")
      } finally pool.shutdown()
    } finally setFieldIds(original)
  }

  test("Iceberg writers delete their staging directories, whether they commit or lose the race") {
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    def staging(): Set[String] = listNames(tmpRoot).filter(_.startsWith("graft_ice"))
    val before = staging()
    val out = tmp("ice_staging_") + "/ice"
    IcebergFixtures.writeV2WithDeletes(spark, out,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), "id", col("id") % 5 === 0)
    IcebergInterop.upsertCdc(spark, out, Seq((3L, "U3"), (11L, "N11")).toDF("id", "v"), Seq("id"))
    assert(staging() == before, "a committed upsertCdc leaked staging directories")
    val pool = Executors.newFixedThreadPool(2)
    val outcomes = try race(pool, Seq("A", "B").map { w =>
      val wave = Seq((4L, w)).toDF("id", "v")
      w -> (() => { IcebergInterop.upsertCdc(spark, out, wave, Seq("id")); () })
    }) finally pool.shutdown()
    val refused = outcomes.collect { case (_, Some(e)) => e }
    assert(refused.size == 1 &&
      refused.head.isInstanceOf[VersionedTable.ConcurrentCommitException], s"$outcomes")
    assert(staging() == before, "a refused upsertCdc leaked staging directories")
  }

  test("crash point: a published metadata version whose hint was never flipped is served") {
    val table = tmp("ice_hint_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val out = tmp("ice_hint_out_")
    IcebergInterop.exportSnapshot(spark, table, out)
    val hint = Paths.get(out, "metadata", "version-hint.text")
    val hintAtN = Files.readAllBytes(hint)
    val snapN1 = IcebergInterop.appendSnapshot(spark, out,
      Seq((2L, "b")).toDF("id", "v").coalesce(1))
    // v2 is published; the hint still names v1, as after a writer that
    // died between its publish and its hint move
    Files.write(hint, hintAtN)
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim == "1")
    assert(IcebergInterop.importSnapshot(spark, out).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    assert(IcebergInterop.resolveRef(out, "main") == snapN1)
    assert(IcebergInterop.metadataTable(spark, out, "snapshots")
      .select("snapshot_id").as[Long].collect().toSet.contains(snapN1))
    assert(IcebergInterop.createRef(out, "after-crash", "tag") == snapN1)
    assert(Files.exists(Paths.get(out, "metadata", "v3.metadata.json")),
      "the next commit publishes v3")
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim == "3")
  }

  test("crash point: data files and manifests staged without a metadata version change " +
    "nothing; removeOrphanFiles reclaims exactly the staged data files") {
    val out = tmp("ice_nocommit_") + "/ice"
    IcebergFixtures.writeV2WithDeletes(spark, out,
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), "id", col("id") % 5 === 0)
    def rows() = IcebergInterop.importSnapshot(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val rowsN = rows()
    val snapN = IcebergInterop.resolveRef(out, "main")
    val metaN = listNames(Paths.get(out, "metadata")).filter(_.endsWith(".metadata.json"))
    // a writer that died before its publish: data files in data/, a
    // manifest in metadata/, no metadata version naming them
    val staged = Seq("cdc-crashed-0.parquet", "eq-delete-crashed.parquet").map { name =>
      val t = tmp("ice_nocommit_part_")
      Seq((100L, "x")).toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(t)
      val part = listNames(Paths.get(t)).find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(t, part), Paths.get(out, "data", name))
      name
    }
    Files.copy(Paths.get(out, "metadata", "fixture-m0.avro"),
      Paths.get(out, "metadata", "cdc-crashed-data-m0.avro"))
    assert(rows() == rowsN)
    assert(IcebergInterop.resolveRef(out, "main") == snapN)
    assert(listNames(Paths.get(out, "metadata")).filter(_.endsWith(".metadata.json")) == metaN)
    val gone = IcebergInterop.removeOrphanFiles(out).map(Paths.get(_).getFileName.toString)
    assert(gone.sorted == staged.sorted, s"reclaimed $gone")
    assert(rows() == rowsN)
  }

  /** Checks every snapshot of the table's newest metadata version against
    * the parts of the spec ("Manifests", "Manifest Lists", "Table
    * Metadata") a writer controls: each manifest-list row names an existing
    * manifest of the declared length, whose content, partition spec and
    * added-file count the row repeats; every referenced spec id is in
    * `partition-specs` and its field ids are the manifest's partition
    * struct; every entry's sequence number is at most
    * `last-sequence-number`; and the row counts match the entries. In v2
    * the spec makes every count and sequence field of a list row required.
    */
  private def assertConforms(out: String): Unit = {
    val metaDir = Paths.get(out, "metadata")
    val newest = listNames(metaDir).collect {
      case n if n.matches("v\\d+\\.metadata\\.json") => n.stripPrefix("v").stripSuffix(".metadata.json").toLong
    }.max
    val meta = mapper.readTree(Files.readAllBytes(metaDir.resolve(s"v$newest.metadata.json")))
    val fv = meta.get("format-version").asInt()
    val specs: Map[Int, Seq[Int]] = meta.get("partition-specs").elements().asScala.map { s =>
      s.get("spec-id").asInt() -> s.get("fields").elements().asScala.map(_.get("field-id").asInt()).toSeq
    }.toMap
    val lastSeq = if (fv == 2) meta.get("last-sequence-number").asLong() else 0L
    def opt(r: GenericRecord, f: String): Option[AnyRef] =
      if (r.getSchema.getField(f) == null) None else Option(r.get(f))
    val v2ListFields = Seq("content", "sequence_number", "min_sequence_number",
      "added_snapshot_id", "added_data_files_count", "existing_data_files_count",
      "deleted_data_files_count", "added_rows_count", "existing_rows_count",
      "deleted_rows_count")
    meta.get("snapshots").elements().asScala.foreach { snap =>
      val where = s"$out snapshot ${snap.get("snapshot-id").asLong()}"
      val (listSchema, rows) = readAvro(ref(out, snap.get("manifest-list").asText()))
      if (fv == 2) v2ListFields.foreach { f =>
        val field = listSchema.getField(f)
        assert(field != null && field.schema().getType != org.apache.avro.Schema.Type.UNION,
          s"$where: a v2 manifest list must carry '$f' as a required field")
      }
      rows.foreach { row =>
        val manPath = ref(out, row.get("manifest_path").toString)
        assert(Files.size(manPath) == row.get("manifest_length"), s"$where: manifest_length of $manPath")
        val reader = new DataFileReader[GenericRecord](
          new SeekableFileInput(manPath.toFile), new GenericDatumReader[GenericRecord]())
        val (mSchema, entries, mSpecId, mContent) =
          try (reader.getSchema, reader.iterator().asScala.toList,
            reader.getMetaString("partition-spec-id"), Option(reader.getMetaString("content")))
          finally reader.close()
        val specId = row.get("partition_spec_id").asInstanceOf[Int]
        assert(specs.contains(specId), s"$where: spec $specId is not in partition-specs ${specs.keySet}")
        assert(mSpecId == specId.toString, s"$where: $manPath is written under spec $mSpecId, listed as $specId")
        val structIds = mSchema.getField("data_file").schema().getField("partition").schema()
          .getFields.asScala.map(_.getObjectProp("field-id").asInstanceOf[Int]).toSeq
        assert(structIds == specs(specId), s"$where: $manPath partition struct ids $structIds, spec $specId")
        val content = opt(row, "content").map(_.asInstanceOf[Int]).getOrElse(0)
        val files = entries.map(_.get("data_file").asInstanceOf[GenericRecord])
        val fileContents = files.map(d => opt(d, "content").map(_.asInstanceOf[Int]).getOrElse(0)).toSet
        assert(if (content == 0) fileContents.subsetOf(Set(0)) else fileContents.subsetOf(Set(1, 2)),
          s"$where: list content $content over data_file contents $fileContents")
        if (fv == 2) assert(mContent.contains(if (content == 0) "data" else "deletes"),
          s"$where: $manPath declares content $mContent, listed as $content")
        def byStatus(st: Int) = entries.zip(files).collect {
          case (e, d) if e.get("status").asInstanceOf[Int] == st => d.get("record_count").asInstanceOf[Long]
        }
        assert(row.get("added_data_files_count") == byStatus(1).size, s"$where: added files of $manPath")
        opt(row, "existing_data_files_count").foreach(n =>
          assert(n == byStatus(0).size, s"$where: existing files of $manPath"))
        opt(row, "deleted_data_files_count").foreach(n =>
          assert(n == byStatus(2).size, s"$where: deleted files of $manPath"))
        Seq("added_rows_count" -> 1, "existing_rows_count" -> 0, "deleted_rows_count" -> 2).foreach {
          case (f, st) => opt(row, f).foreach(n => assert(n == byStatus(st).sum, s"$where: $f of $manPath"))
        }
        val rowSeq = opt(row, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(0L)
        entries.foreach { e =>
          val seq = opt(e, "sequence_number").map(_.asInstanceOf[Long]).getOrElse(rowSeq)
          assert(seq <= lastSeq, s"$where: entry sequence $seq above last-sequence-number $lastSeq")
        }
        opt(row, "min_sequence_number").foreach { m =>
          assert(m.asInstanceOf[Long] <= rowSeq, s"$where: min_sequence_number $m above $rowSeq")
        }
      }
    }
  }

  test("writer conformance: every writer's and fixture's snapshots list manifests that " +
    "match their rows, their specs and the table's sequence numbers") {
    // v1: export, append, append with removePaths
    val table = tmp("ice_conf_") + "/t"
    VersionedTable.append(table)(dir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir))
    VersionedTable.append(table)(dir =>
      Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(dir))
    val v1 = tmp("ice_conf_v1_")
    val rels = IcebergInterop.exportSnapshot(spark, table, v1)
    assertConforms(v1)
    IcebergInterop.appendSnapshot(spark, v1, Seq((4L, "d")).toDF("id", "v").coalesce(1))
    assertConforms(v1)
    IcebergInterop.appendSnapshot(spark, v1, Seq((5L, "e")).toDF("id", "v").coalesce(1),
      removePaths = Seq(rels.head))
    assertConforms(v1)

    // convertFromDelta, plain and identity-partitioned
    def onePart(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
      val t = tmp("ice_conf_part_")
      df.coalesce(1).write.mode("overwrite").parquet(t)
      Files.move(Paths.get(t, listNames(Paths.get(t)).find(_.endsWith(".parquet")).get),
        Paths.get(dir, name))
      ()
    }
    val plain = tmp("ice_conf_d2i_")
    val rowsDf = Seq((1L, "x", "en"), (2L, "y", "de"), (3L, "z", "en")).toDF("id", "v", "lang")
    onePart(rowsDf, plain, "a.parquet")
    DeltaInterop.writeCommit(plain, 0L, adds = Seq("a.parquet"),
      schemaJson = Some(rowsDf.schema.json))
    IcebergInterop.convertFromDelta(spark, plain)
    assertConforms(plain)
    val parted = tmp("ice_conf_d2ip_")
    Seq(("en", "p0.parquet"), ("de", "p1.parquet")).foreach { case (l, n) =>
      onePart(rowsDf.filter(col("lang") === l).drop("lang"), parted, n)
    }
    DeltaInterop.writeCommit(parted, 0L, adds = Seq("p0.parquet", "p1.parquet"),
      schemaJson = Some(rowsDf.schema.json), partitionColumns = Seq("lang"),
      partitionValues = Map("p0.parquet" -> Map("lang" -> Some("en")),
        "p1.parquet" -> Map("lang" -> Some("de"))))
    IcebergInterop.convertFromDelta(spark, parted)
    assertConforms(parted)

    // the two v1 fixtures
    val pv1 = tmp("ice_conf_pv1_")
    IcebergFixtures.writePartitionedV1(spark, pv1, rowsDf, "lang")
    assertConforms(pv1)
    val xv1 = tmp("ice_conf_xv1_")
    IcebergFixtures.writeTransformPartitionedV1(spark, xv1, rowsDf, Seq(
      ("id_bucket", "bucket[2]", "id", pmod(col("id"), lit(2L)).cast("int"))))
    assertConforms(xv1)

    // position-delete fixture, then deleteWhere, upsertCdc, rewriteDataFiles
    val ids = (1L to 12L).map(i => (i, s"v$i")).toDF("id", "v")
    val pos = tmp("ice_conf_pos_") + "/ice"
    IcebergFixtures.writeV2WithDeletes(spark, pos, ids, "id", col("id") % 5 === 0)
    assertConforms(pos)
    IcebergInterop.deleteWhere(spark, pos, col("id") === 3L)
    assertConforms(pos)
    IcebergInterop.upsertCdc(spark, pos,
      Seq((1L, "U1", false), (2L, "x", true), (20L, "N20", false)).toDF("id", "v", "del"),
      Seq("id"), Some("del"))
    assertConforms(pos)
    IcebergInterop.rewriteDataFiles(spark, pos)
    assertConforms(pos)

    // equality-delete fixture, then deleteWhereEquality
    val eq = tmp("ice_conf_eq_")
    IcebergFixtures.writeV2EqualityDeletes(spark, eq,
      (1L to 6L).map(i => (i, if (i % 3 == 0) "del" else s"v$i")).toDF("id", "v"), "id", "v", "del")
    assertConforms(eq)
    IcebergInterop.deleteWhereEquality(spark, eq, Seq("v1").toDF("v"), Seq("v"))
    assertConforms(eq)

    // the partitioned v2 fixture with and without a declared global spec,
    // then deleteWhereEquality (reusing or adding that spec) and upsertCdc
    Seq(true, false).foreach { declared =>
      val p = tmp("ice_conf_pv2_") + "/ice"
      IcebergFixtures.writePartitionedV2WithDeletes(spark, p, rowsDf, "id", "lang",
        col("id") === 2L, declareGlobalSpec = declared)
      // undeclared, the fixture's delete manifest names a spec the
      // metadata lacks: the shape deleteWhereEquality's commit repairs
      if (declared) assertConforms(p)
      IcebergInterop.deleteWhereEquality(spark, p, Seq(3L).toDF("id"), Seq("id"))
      assertConforms(p)
      IcebergInterop.upsertCdc(spark, p,
        Seq((1L, "fr", "A", false), (4L, "de", "d", false)).toDF("id", "lang", "v", "del"),
        Seq("id"), Some("del"))
      assertConforms(p)
    }
  }
}
