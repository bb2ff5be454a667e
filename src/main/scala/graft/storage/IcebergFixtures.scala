package graft.storage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthesizers for EXTERNAL Iceberg table layouts this sandbox cannot
  * otherwise produce: the offline container has no Iceberg runtime, so
  * interop against "a table some other engine wrote" is exercised by
  * emitting the byte format straight from the published spec
  * (iceberg.apache.org/spec) — the same rationale as
  * [[IcebergInterop]]'s export, extended to the two shapes the bridge's
  * own exporter deliberately never writes:
  *
  *  - an IDENTITY-partitioned v1 table whose data files DO NOT contain
  *    the partition column (the Hive-migrated `add_files` shape — the
  *    value exists only in each manifest entry's partition struct), and
  *  - a format-v2 table with a POSITION-DELETE manifest (manifest-list
  *    `content=1`, `data_file.content=1`, the spec's `(file_path, pos)`
  *    delete parquet) — optionally a MALFORMED equality-delete entry
  *    (`content=2` without `equality_ids`) for the refusal arm, and
  *  - a format-v2 table with a well-formed EQUALITY-delete manifest in a
  *    sequence-observable history (data at seq 1 and 3, the delete at
  *    seq 2 — [[writeV2EqualityDeletes]]).
  *
  * Used by q145/q146/q152 and IcebergInteropSpec; all paths are the
  * spec-mandated full `file://` URIs.
  */
object IcebergFixtures {

  import IcebergInterop.{fld, mapFld, mapper, writeAvro, icebergSchemaJson}

  private[storage] def partitionStruct(fields: Seq[(String, Schema, Int)]): Schema = {
    val s = Schema.createRecord("r102", null, "iceberg", false)
    s.setFields(fields.map { case (n, t, id) => fld(n, id, t, optional = true) }.asJava)
    s
  }

  /** manifest_entry whose data_file carries the given partition struct;
    * `v2` adds the v2 fields (entry sequence numbers, data_file.content).
    */
  private[storage] def entrySchema(partition: Schema, v2: Boolean): Schema = {
    val dfFields = scala.collection.mutable.ArrayBuffer[Schema.Field]()
    if (v2) dfFields += fld("content", 134, Schema.create(Schema.Type.INT), optional = false)
    dfFields += fld("file_path", 100, Schema.create(Schema.Type.STRING), optional = false)
    dfFields += fld("file_format", 101, Schema.create(Schema.Type.STRING), optional = false)
    dfFields += { val f = new Schema.Field("partition", partition, null, null); f.addProp("field-id", 102); f }
    dfFields += fld("record_count", 103, Schema.create(Schema.Type.LONG), optional = false)
    dfFields += fld("file_size_in_bytes", 104, Schema.create(Schema.Type.LONG), optional = false)
    if (v2) dfFields += fld("equality_ids", 135,
      Schema.createArray(Schema.create(Schema.Type.INT)), optional = true)
    if (!v2) dfFields += fld("block_size_in_bytes", 105, Schema.create(Schema.Type.LONG), optional = false)
    // per-column statistics (spec "Manifests", optional data_file fields):
    // value/null counts + Appendix-D-serialized bounds, keyed by field id
    dfFields += mapFld("value_counts", 109, 119, 120, Schema.create(Schema.Type.LONG))
    dfFields += mapFld("null_value_counts", 110, 121, 122, Schema.create(Schema.Type.LONG))
    dfFields += mapFld("lower_bounds", 125, 126, 127, Schema.create(Schema.Type.BYTES))
    dfFields += mapFld("upper_bounds", 128, 129, 130, Schema.create(Schema.Type.BYTES))
    val dataFile = Schema.createRecord("r2", null, "iceberg", false)
    dataFile.setFields(dfFields.asJava)
    val eFields = scala.collection.mutable.ArrayBuffer[Schema.Field](
      fld("status", 0, Schema.create(Schema.Type.INT), optional = false),
      fld("snapshot_id", 1, Schema.create(Schema.Type.LONG), optional = true))
    if (v2) {
      eFields += fld("sequence_number", 3, Schema.create(Schema.Type.LONG), optional = true)
      eFields += fld("file_sequence_number", 4, Schema.create(Schema.Type.LONG), optional = true)
    }
    eFields += { val f = new Schema.Field("data_file", dataFile, null, null); f.addProp("field-id", 2); f }
    val s = Schema.createRecord("manifest_entry", null, "iceberg", false)
    s.setFields(eFields.asJava)
    s
  }

  /** manifest_file with the v2-only routing fields (content 517,
    * sequence numbers 515/516 — spec "Manifest Lists").
    */
  private[storage] val manifestFileSchemaV2: Schema = {
    val s = Schema.createRecord("manifest_file", null, "iceberg", false)
    s.setFields(java.util.List.of(
      fld("manifest_path", 500, Schema.create(Schema.Type.STRING), optional = false),
      fld("manifest_length", 501, Schema.create(Schema.Type.LONG), optional = false),
      fld("partition_spec_id", 502, Schema.create(Schema.Type.INT), optional = false),
      fld("content", 517, Schema.create(Schema.Type.INT), optional = false),
      fld("sequence_number", 515, Schema.create(Schema.Type.LONG), optional = false),
      fld("min_sequence_number", 516, Schema.create(Schema.Type.LONG), optional = false),
      fld("added_snapshot_id", 503, Schema.create(Schema.Type.LONG), optional = true),
      fld("added_data_files_count", 504, Schema.create(Schema.Type.INT), optional = true),
      fld("existing_data_files_count", 505, Schema.create(Schema.Type.INT), optional = true),
      fld("deleted_data_files_count", 506, Schema.create(Schema.Type.INT), optional = true)))
    s
  }

  private[storage] def avroTypeFor(dt: DataType): Schema = dt match {
    case StringType  => Schema.create(Schema.Type.STRING)
    case LongType    => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    // round 17: date partitions ride as int days-from-epoch, timestamps
    // as long micros-from-epoch (the spec's Avro partition mapping)
    case DateType =>
      org.apache.avro.LogicalTypes.date()
        .addToSchema(Schema.create(Schema.Type.INT))
    case TimestampType =>
      org.apache.avro.LogicalTypes.timestampMicros()
        .addToSchema(Schema.create(Schema.Type.LONG))
    case other => throw new IllegalArgumentException(
      s"fixture partition type $other not supported")
  }

  /** The raw Avro value a partition struct stores for a Spark-typed
    * partition value (the inverse of IcebergInterop.partitionValueAs).
    */
  private[storage] def avroPartValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: java.sql.Date, DateType) =>
      java.lang.Integer.valueOf(d.toLocalDate.toEpochDay.toInt)
    case (ts: java.sql.Timestamp, TimestampType) =>
      java.lang.Long.valueOf(ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L)
    case (other, _) => other
  }

  /** Write `df` as exactly one parquet file at `dst`, staged under a
    * temp directory named `prefix…` that is deleted afterwards.
    */
  private def writeOnePart(df: DataFrame, prefix: String, dst: Path): Path =
    VersionedTable.withStagingDir(prefix) { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
      val parts = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(parts.size == 1, s"expected one part file in $tmp, got ${parts.size}")
      Files.createDirectories(dst.getParent)
      Files.move(parts.head, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Partition value types that round-trip through a hive dir name — the
    * gate for the one-pass staging below; anything else takes the legacy
    * per-value loop.
    */
  private def hiveParseable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | DateType => true
    case _ => false
  }

  /** A hive partition-dir value string parsed back to the JVM shape
    * [[avroPartValue]] expects (the same inverse
    * [[IcebergInterop.upsertCdc]] uses for its routed writes).
    */
  private def hiveDirValue(raw: String, dt: DataType): Any =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType  => raw
      case IntegerType => java.lang.Integer.valueOf(raw.toInt)
      case LongType    => java.lang.Long.valueOf(raw.toLong)
      case DateType    => java.sql.Date.valueOf(raw)
      case other => throw new IllegalArgumentException(
        s"unsupported hive partition value type $other")
    }

  /** Row count from a written parquet file's footer — driver-side, zero
    * Spark jobs (the fixture writers used to pay one full `count()` scan
    * per slice for exactly this number).
    */
  private def footerCount(f: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toString),
      new org.apache.hadoop.conf.Configuration())
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally rd.close()
  }

  /** ONE-PASS partition-routed slice staging (r17, guide §2.4 "remove
    * shuffles outright" / §1.2 "the distributed algorithm first"): the
    * legacy fixture writers ran one filtered FULL SCAN of `df` per
    * distinct partition value (plus often a second for its row count) —
    * 2·|partitions| jobs. This routes every slice in ONE job: a hash
    * `repartition` on the partition columns lands each value tuple whole
    * in one task, `partitionBy` then emits exactly one file per tuple
    * (rows ordered by `sortCols` — the position-delete contract), the
    * TYPED values parse back from the hive dir names, and record counts
    * come from the written footers driver-side. Each file moves into
    * `dataDir` under `fileName(i, valueTuple)`, `i` its rank in the
    * tuples' string order (the legacy `p$i` naming order); returns one
    * (file, valueTuple, rowCount) per partition in that order. Callers
    * must gate on [[hiveParseable]] for every partition type.
    */
  private def stageOnePass(df: DataFrame, partVals: Seq[(String, DataType)],
      sortCols: Seq[Column], dropCols: Seq[String], dataDir: Path)(
      fileName: (Int, Seq[Any]) => String): Seq[(Path, Seq[Any], Long)] =
    VersionedTable.withStagingDir("graft_ice_stage_") { tmp =>
      val names = partVals.map(_._1)
      val types = partVals.toMap
      df.repartition(names.map(col): _*)
        .sortWithinPartitions(names.map(col) ++ sortCols: _*)
        .drop(dropCols: _*)
        .write.mode("overwrite").partitionBy(names: _*).parquet(tmp.toString)
      val staged: Seq[(Path, Seq[Any])] = {
        val s0 = Files.walk(tmp)
        val parts =
          try s0.iterator().asScala.filter(p =>
            p.getFileName.toString.endsWith(".parquet")).toSeq
          finally s0.close()
        parts.map { part =>
          val relDirs = tmp.relativize(part.getParent)
          val byName = (0 until relDirs.getNameCount).map { k =>
            val seg = relDirs.getName(k).toString
            val eq = seg.indexOf('=')
            require(eq > 0, s"unexpected partition dir segment '$seg'")
            val c = seg.substring(0, eq)
            val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(seg.substring(eq + 1))
            c -> hiveDirValue(raw, types(c))
          }.toMap
          require(byName.keySet == names.toSet,
            s"partition dirs $byName do not cover $names")
          part -> names.map(byName)
        }
      }
      staged
        .sortBy(_._2.map(v => if (v == null) "" else v.toString).mkString(" "))
        .zipWithIndex.map { case ((f, vs), i) =>
          val dst = Files.move(f, dataDir.resolve(fileName(i, vs)),
            StandardCopyOption.REPLACE_EXISTING)
          (dst, vs, footerCount(dst))
        }
    }

  /** An identity-partitioned v1 table: one data file per distinct value
    * of `partCol` (NULL included) holding every OTHER column — the
    * partition value lives only in the manifest partition struct, as a
    * Hive-migrated table's files do. Returns the partition values in
    * data-file order.
    */
  def writePartitionedV1(
      spark: SparkSession, outDir: String, df: DataFrame, partCol: String): Seq[Any] = {
    val out = Paths.get(outDir)
    require(!Files.exists(out.resolve("metadata")),
      s"$outDir already holds Iceberg metadata — refusing to overwrite")
    val schema = df.schema
    val partIdx = schema.fieldIndex(partCol)
    val partType = schema(partIdx).dataType
    val (schemaJson, lastColumnId) = icebergSchemaJson(schema)

    val dataDir = out.resolve("data")
    Files.createDirectories(dataDir)
    // ONE routed write for every slice (r17): the old loop paid one full
    // filtered scan of df per distinct value — 1 + |partitions| jobs here
    // collapse to 1 (+ driver-side footer counts)
    val files: Seq[(Path, Any, Long)] =
      if (hiveParseable(partType))
        stageOnePass(df, Seq(partCol -> partType), Nil, Nil, dataDir)(
          (i, _) => s"p$i.parquet").map { case (f, vs, n) => (f, vs.head, n) }
      else {
        val groups: Seq[(Any, Long)] = df.groupBy(col(partCol)).count().collect()
          .map(r => (r.get(0), r.getLong(1))).toSeq
          .sortBy { case (v, _) => if (v == null) "" else v.toString }
        groups.zipWithIndex.map { case ((v, n), i) =>
          val slice = df.filter(col(partCol) <=> lit(v)).drop(partCol).repartition(1)
          (writeOnePart(slice, "graft_ice_fix_", dataDir.resolve(s"p$i.parquet")), v, n)
        }
      }

    val pStruct = partitionStruct(Seq((partCol, avroTypeFor(partType), 1000)))
    val withParts = files.map { case (f, v, n) =>
      val part = new GenericData.Record(pStruct)
      part.put(partCol, avroPartValue(v, partType))
      (f, part, n)
    }
    val specJson = s"""[{"name":"$partCol","transform":"identity","source-id":${partIdx + 1},"field-id":1000}]"""
    IcebergInterop.writeV1Meta(out, schemaJson, lastColumnId, specJson, pStruct,
      withParts, lastPartitionId = 1000)
    files.map(_._2)
  }

  /** A v1 table partitioned by NON-IDENTITY transforms, the normal
    * engine-written layout (spec "Partition Transforms"): every data file
    * CONTAINS the transform SOURCE columns (only metadata-only `add_files`
    * migrations omit them), and the manifest partition struct carries the
    * transformed values. `truncate[L]` / `days` values are computed per
    * the spec; `bucket[N]` values use a stand-in assignment (`src mod N`
    * instead of murmur3_32) — legal for reader-side tests because
    * non-identity values are OPAQUE to a reader (non-invertible is the
    * very property that forces the source-column read path), and this
    * fixture's reader never prunes by them. With `omitSourceColumns` the
    * data files DROP the source columns — the migrated shape
    * [[IcebergInterop.importSnapshot]] must refuse.
    *
    * @param fields (partitionFieldName, transformString, sourceColName,
    *               valueExpr) — one data file per distinct value tuple
    */
  def writeTransformPartitionedV1(
      spark: SparkSession, outDir: String, df: DataFrame,
      fields: Seq[(String, String, String, Column)],
      omitSourceColumns: Boolean = false): Unit = {
    val out = Paths.get(outDir)
    require(!Files.exists(out.resolve("metadata")),
      s"$outDir already holds Iceberg metadata — refusing to overwrite")
    require(fields.nonEmpty, "need at least one transform field")
    val schema = df.schema
    val (schemaJson, lastColumnId) = icebergSchemaJson(schema)
    val pvNames = fields.map { case (n, _, _, _) => s"__pv_$n" }
    val tagged = df.select((schema.fieldNames.map(col) ++
      fields.zip(pvNames).map { case ((_, _, _, v), pn) => v.as(pn) }).toIndexedSeq: _*)
    val pvTypes = pvNames.map(pn => tagged.schema(pn).dataType)
    val dropCols = if (omitSourceColumns) fields.map(_._3).distinct else Nil
    val dataDir = out.resolve("data")
    Files.createDirectories(dataDir)
    val pStruct = partitionStruct(fields.map(_._1).zip(pvTypes).zipWithIndex.map {
      case ((n, dt), i) => (n, avroTypeFor(dt), 1000 + i) })
    def partRec(vs: Seq[Any]): GenericRecord = {
      val part = new GenericData.Record(pStruct)
      fields.map(_._1).zip(vs).foreach { case (n, v) => part.put(n, v) }
      part
    }
    // ONE routed write for every value tuple (r17): the legacy loop paid
    // TWO full scans of `tagged` per tuple (slice write + count)
    val files: Seq[(Path, GenericRecord, Long)] =
      if (pvTypes.forall(hiveParseable))
        stageOnePass(tagged, pvNames.zip(pvTypes), Nil, dropCols, dataDir)(
          (i, _) => s"p$i.parquet").map { case (f, vs, n) => (f, partRec(vs), n) }
      else {
        val groups: Seq[Seq[Any]] = tagged.select(pvNames.map(col): _*).distinct()
          .collect().map(_.toSeq).toSeq
          .sortBy(_.map(v => if (v == null) "" else v.toString).mkString(" "))
        groups.zipWithIndex.map { case (vs, i) =>
          val cond = pvNames.zip(vs).map { case (pn, v) => col(pn) <=> lit(v) }
            .reduce(_ && _)
          val slice = tagged.filter(cond).drop(pvNames: _*).drop(dropCols: _*)
            .repartition(1)
          val f = writeOnePart(slice, "graft_ice_xf_", dataDir.resolve(s"p$i.parquet"))
          val n = tagged.filter(cond).count()
          (f, partRec(vs), n)
        }
      }
    val specJson = fields.zipWithIndex.map { case ((n, t, src, _), i) =>
      s"""{"name":"$n","transform":"$t","source-id":${schema.fieldIndex(src) + 1},"field-id":${1000 + i}}"""
    }.mkString("[", ",", "]")
    IcebergInterop.writeV1Meta(out, schemaJson, lastColumnId, specJson, pStruct, files,
      lastPartitionId = 1000 + fields.size - 1)
  }

  /** A format-v2 table whose history makes SEQUENCE ordering observable:
    * data file A (`orderCol % 2 = 0` rows) lands at sequence 1, an
    * EQUALITY delete file (one tuple: `eqCol = deletedValue`,
    * `equality_ids` naming `eqCol`) at sequence 2, data file B (odd
    * rows) at sequence 3. A correct reader deletes the matching rows of
    * file A only — file B's matches were (re-)inserted AFTER the delete
    * and must survive (the Flink-CDC upsert shape). An
    * ignore-the-sequence reader over-deletes; an ignore-the-delete
    * reader resurrects: both break the q152 hash.
    */
  def writeV2EqualityDeletes(
      spark: SparkSession, outDir: String, df: DataFrame, orderCol: String,
      eqCol: String, deletedValue: String): Unit = {
    val out = Paths.get(outDir)
    require(!Files.exists(out.resolve("metadata")),
      s"$outDir already holds Iceberg metadata — refusing to overwrite")
    val (schemaJson, lastColumnId) = icebergSchemaJson(df.schema)
    val eqFieldId = df.schema.fieldIndex(eqCol) + 1 // top-level ids are 1..n
    val dataDir = out.resolve("data")
    Files.createDirectories(dataDir)

    // ONE routed write for both parity slices + footer counts (r17)
    val seqOf = Map(0 -> 1L, 1 -> 3L)
    val slices: Seq[(Path, Long, Long)] = stageOnePass(
        df.withColumn("__slice", pmod(col(orderCol), lit(2)).cast("int")),
        Seq("__slice" -> IntegerType), Seq(col(orderCol)), Nil, dataDir)(
        (_, vs) => s"d${vs.head}.parquet")
      .map { case (f, vs, n) =>
        (f, n, seqOf(vs.head.asInstanceOf[java.lang.Integer].intValue()))
      }
    require(slices.size == 2,
      s"fixture expects both parity slices, got ${slices.size} — empty parity")
    val delFile = { // one-tuple equality delete parquet: just the eqCol column
      import spark.implicits._
      writeOnePart(Seq(deletedValue).toDF(eqCol).repartition(1),
        "graft_ice_v2edel_", dataDir.resolve("eqdel0.parquet"))
    }

    val metaDir = out.resolve("metadata")
    Files.createDirectories(metaDir)
    val snapshotId = 9393L
    val pStruct = partitionStruct(Nil)
    val eSchema = entrySchema(pStruct, v2 = true)
    def entry(f: Path, n: Long, content: Int, seq: Long,
        eqIds: Seq[Int]): GenericRecord = {
      val dfr = new GenericData.Record(eSchema.getField("data_file").schema())
      dfr.put("content", content)
      dfr.put("file_path", f.toUri.toString)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(pStruct))
      dfr.put("record_count", n)
      dfr.put("file_size_in_bytes", Files.size(f))
      if (eqIds.nonEmpty)
        dfr.put("equality_ids", eqIds.map(Integer.valueOf).asJava)
      val e = new GenericData.Record(eSchema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      e.put("data_file", dfr)
      e
    }
    val dataManifest = metaDir.resolve("fixture-m0.avro")
    writeAvro(dataManifest, eSchema,
      slices.map { case (f, n, seq) => entry(f, n, 0, seq, Nil) },
      Map("schema" -> schemaJson, "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "2", "content" -> "data"))
    val delManifest = metaDir.resolve("fixture-m1.avro")
    writeAvro(delManifest, eSchema,
      Seq(entry(delFile, 1L, 2, 2L, Seq(eqFieldId))),
      Map("schema" -> schemaJson, "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "2", "content" -> "deletes"))
    def mfRec(p: Path, content: Int, seq: Long, nFiles: Int): GenericRecord = {
      val mf = new GenericData.Record(manifestFileSchemaV2)
      mf.put("manifest_path", p.toUri.toString)
      mf.put("manifest_length", Files.size(p))
      mf.put("partition_spec_id", 0)
      mf.put("content", content)
      mf.put("sequence_number", seq)
      mf.put("min_sequence_number", 1L)
      mf.put("added_snapshot_id", snapshotId)
      mf.put("added_data_files_count", nFiles)
      mf.put("existing_data_files_count", 0)
      mf.put("deleted_data_files_count", 0)
      mf
    }
    val manifestListPath = metaDir.resolve(s"snap-$snapshotId-1-fixture.avro")
    writeAvro(manifestListPath, manifestFileSchemaV2,
      Seq(mfRec(dataManifest, 0, 3L, slices.size), mfRec(delManifest, 1, 2L, 1)),
      Map("format-version" -> "2"))

    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", out.toString)
    root.put("last-sequence-number", 3L)
    root.put("last-updated-ms", 0L)
    root.put("last-column-id", lastColumnId)
    val schemas = root.putArray("schemas")
    schemas.add(mapper.readTree(schemaJson))
    root.put("current-schema-id", 0)
    val specs = root.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    spec0.putArray("fields")
    root.put("default-spec-id", 0)
    root.put("last-partition-id", 999)
    root.putObject("properties")
    root.put("current-snapshot-id", snapshotId)
    val snaps = root.putArray("snapshots")
    val snap = snaps.addObject()
    snap.put("snapshot-id", snapshotId)
    snap.put("sequence-number", 3L)
    snap.put("timestamp-ms", 0L)
    snap.putObject("summary").put("operation", "overwrite")
    snap.put("manifest-list", manifestListPath.toUri.toString)
    root.putArray("snapshot-log")
    root.putArray("metadata-log")
    IcebergInterop.publish(metaDir, 2L, root)
  }

  /** An IDENTITY-partitioned format-v2 table with a GLOBAL position-
    * delete file (round 17, the q210 shape): one data file per distinct
    * `partCol` value (files DROP the column — the add_files shape, so
    * the import must restore it from the manifest structs WHILE applying
    * deletes), plus one position-delete parquet at sequence 2 whose
    * `(file_path, pos)` rows span partitions — carried by a delete
    * manifest under an UNPARTITIONED spec (v2 spec: deletes stored in an
    * unpartitioned spec apply globally). `declareGlobalSpec = false`
    * omits the empty spec from the table metadata — the shape
    * [[IcebergInterop.deleteWhereEquality]] must then ADD one for.
    */
  def writePartitionedV2WithDeletes(
      spark: SparkSession, outDir: String, df: DataFrame, orderCol: String,
      partCol: String, deleteCond: Column,
      declareGlobalSpec: Boolean = true): Unit = {
    val out = Paths.get(outDir)
    require(!Files.exists(out.resolve("metadata")),
      s"$outDir already holds Iceberg metadata — refusing to overwrite")
    val schema = df.schema
    val partIdx = schema.fieldIndex(partCol)
    val partType = schema(partIdx).dataType
    val (schemaJson, lastColumnId) = icebergSchemaJson(schema)
    val dataDir = out.resolve("data")
    Files.createDirectories(dataDir)
    // ONE routed write for every slice + footer counts (r17): the legacy
    // loop paid two full scans of df per partition value plus a distinct
    // collect and a delete-count scan — ~2·|partitions|+4 jobs become 2
    val slices: Seq[(Path, Any, Long)] =
      if (hiveParseable(partType))
        stageOnePass(df, Seq(partCol -> partType), Seq(col(orderCol)), Nil, dataDir)(
          (i, _) => s"p$i.parquet").map { case (f, vs, n) => (f, vs.head, n) }
      else {
        val groups: Seq[Any] = df.select(col(partCol)).distinct().collect()
          .map(_.get(0)).toSeq.sortBy(v => if (v == null) "" else v.toString)
        groups.zipWithIndex.map { case (v, i) =>
          val slice = df.filter(col(partCol) <=> lit(v)).drop(partCol)
            .repartition(1).sortWithinPartitions(orderCol)
          val f = writeOnePart(slice, "graft_ice_pv2_", dataDir.resolve(s"p$i.parquet"))
          (f, v, slice.count())
        }
      }
    // position deletes: pos = rank of the row within its partition slice
    // (the slice files are written orderCol-ascending above); count read
    // back from the written footer instead of a second scan of the chain
    val w = Window.partitionBy(col(partCol)).orderBy(col(orderCol))
    val pathExpr = slices.foldLeft(lit(null).cast("string")) {
      case (acc, (f, v, _)) =>
        when(col(partCol) <=> lit(v), lit(f.toUri.toString))
          .otherwise(acc)
    }
    val delDf = df
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .filter(deleteCond)
      .select(pathExpr.as("file_path"), col("pos"))
    val delFile = writeOnePart(delDf.repartition(1), "graft_ice_pv2del_",
      dataDir.resolve("del0.parquet"))
    val nDel = footerCount(delFile)
    require(nDel > 0, "fixture deleteCond matched no rows — pick a real wave")

    val metaDir = out.resolve("metadata")
    Files.createDirectories(metaDir)
    val snapshotId = 9393L
    val pStruct = partitionStruct(Seq((partCol, avroTypeFor(partType), 1000)))
    val emptyStruct = partitionStruct(Nil)
    val dataESchema = entrySchema(pStruct, v2 = true)
    val delESchema = entrySchema(emptyStruct, v2 = true)
    def entry(eSchema: Schema, f: Path, part: GenericRecord, n: Long,
        content: Int, seq: Long): GenericRecord = {
      val dfr = new GenericData.Record(eSchema.getField("data_file").schema())
      dfr.put("content", content)
      dfr.put("file_path", f.toUri.toString)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", part)
      dfr.put("record_count", n)
      dfr.put("file_size_in_bytes", Files.size(f))
      val e = new GenericData.Record(eSchema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      e.put("data_file", dfr)
      e
    }
    val specJson =
      s"""[{"name":"$partCol","transform":"identity","source-id":${partIdx + 1},"field-id":1000}]"""
    val dataManifest = metaDir.resolve("fixture-m0.avro")
    writeAvro(dataManifest, dataESchema,
      slices.map { case (f, v, n) =>
        val part = new GenericData.Record(pStruct)
        part.put(partCol, avroPartValue(v, partType))
        entry(dataESchema, f, part, n, 0, 1L)
      },
      Map("schema" -> schemaJson, "partition-spec" -> specJson,
        "partition-spec-id" -> "0", "format-version" -> "2", "content" -> "data"))
    val delManifest = metaDir.resolve("fixture-m1.avro")
    writeAvro(delManifest, delESchema,
      Seq(entry(delESchema, delFile, new GenericData.Record(emptyStruct),
        nDel, 1, 2L)),
      Map("schema" -> schemaJson, "partition-spec" -> "[]",
        "partition-spec-id" -> "1", "format-version" -> "2",
        "content" -> "deletes"))

    def mfRec(p: Path, content: Int, seq: Long, nFiles: Int,
        specId: Int): GenericRecord = {
      val mf = new GenericData.Record(manifestFileSchemaV2)
      mf.put("manifest_path", p.toUri.toString)
      mf.put("manifest_length", Files.size(p))
      mf.put("partition_spec_id", specId)
      mf.put("content", content)
      mf.put("sequence_number", seq)
      mf.put("min_sequence_number", seq)
      mf.put("added_snapshot_id", snapshotId)
      mf.put("added_data_files_count", nFiles)
      mf.put("existing_data_files_count", 0)
      mf.put("deleted_data_files_count", 0)
      mf
    }
    val manifestListPath = metaDir.resolve(s"snap-$snapshotId-1-fixture.avro")
    writeAvro(manifestListPath, manifestFileSchemaV2,
      Seq(mfRec(dataManifest, 0, 1L, slices.size, 0),
        mfRec(delManifest, 1, 2L, 1, 1)),
      Map("format-version" -> "2"))

    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", out.toString)
    root.put("last-sequence-number", 2L)
    root.put("last-updated-ms", 0L)
    root.put("last-column-id", lastColumnId)
    val schemas = root.putArray("schemas")
    schemas.add(mapper.readTree(schemaJson))
    root.put("current-schema-id", 0)
    val specs = root.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    spec0.set[com.fasterxml.jackson.databind.JsonNode]("fields",
      mapper.readTree(specJson))
    if (declareGlobalSpec) {
      val spec1 = specs.addObject()
      spec1.put("spec-id", 1)
      spec1.putArray("fields")
    }
    root.put("default-spec-id", 0)
    root.put("last-partition-id", 1000)
    root.putObject("properties")
    root.put("current-snapshot-id", snapshotId)
    val snaps = root.putArray("snapshots")
    val snap = snaps.addObject()
    snap.put("snapshot-id", snapshotId)
    snap.put("sequence-number", 2L)
    snap.put("timestamp-ms", 0L)
    snap.putObject("summary").put("operation", "overwrite")
    snap.put("manifest-list", manifestListPath.toUri.toString)
    root.putArray("snapshot-log")
    root.putArray("metadata-log")
    IcebergInterop.publish(metaDir, 2L, root)
  }

  /** A format-v2 table: `df` split into two data files by
    * `orderCol % 2`, each written in `orderCol` order (so row position
    * is the `orderCol` rank within its slice), plus ONE delete manifest.
    * With `equalityInstead = false` the delete manifest carries a real
    * position-delete parquet — the spec's `(file_path, pos)` columns —
    * deleting every row matching `deleteCond`; with `true` it declares
    * the same file as an EQUALITY delete (`data_file.content=2`) WITHOUT
    * `equality_ids` — a malformed layout [[IcebergInterop.importSnapshot]]
    * must refuse by name (well-formed equality deletes are applied; see
    * [[writeV2EqualityDeletes]]).
    */
  def writeV2WithDeletes(
      spark: SparkSession, outDir: String, df: DataFrame, orderCol: String,
      deleteCond: Column, equalityInstead: Boolean = false): Unit = {
    val out = Paths.get(outDir)
    require(!Files.exists(out.resolve("metadata")),
      s"$outDir already holds Iceberg metadata — refusing to overwrite")
    val (schemaJson, lastColumnId) = icebergSchemaJson(df.schema)
    val dataDir = out.resolve("data")
    Files.createDirectories(dataDir)

    // ONE routed write for both parity slices + footer counts (r17): the
    // legacy loop paid a scan + a count per slice and a delete-count scan
    val slices: Seq[(Path, Long)] = stageOnePass(
        df.withColumn("__slice", pmod(col(orderCol), lit(2)).cast("int")),
        Seq("__slice" -> IntegerType), Seq(col(orderCol)), Nil, dataDir)(
        (_, vs) => s"d${vs.head}.parquet").map { case (f, _, n) => (f, n) }
    require(slices.size == 2,
      s"fixture expects both parity slices, got ${slices.size} — empty parity")

    // position deletes: pos = rank of the row within its slice file
    val w = Window.partitionBy(col("__slice")).orderBy(col(orderCol))
    val delDf = df.withColumn("__slice", pmod(col(orderCol), lit(2)))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .filter(deleteCond)
      .select(
        when(col("__slice") === 0, lit(slices(0)._1.toUri.toString))
          .otherwise(lit(slices(1)._1.toUri.toString)).as("file_path"),
        col("pos"))
    val delFile = writeOnePart(delDf.repartition(1), "graft_ice_del_",
      dataDir.resolve("del0.parquet"))
    val nDel = footerCount(delFile)

    val metaDir = out.resolve("metadata")
    Files.createDirectories(metaDir)
    val snapshotId = 8484L
    val pStruct = partitionStruct(Nil)
    val eSchema = entrySchema(pStruct, v2 = true)
    def entry(f: Path, n: Long, content: Int, seq: Long): GenericRecord = {
      val dfr = new GenericData.Record(eSchema.getField("data_file").schema())
      dfr.put("content", content)
      dfr.put("file_path", f.toUri.toString)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(pStruct))
      dfr.put("record_count", n)
      dfr.put("file_size_in_bytes", Files.size(f))
      val e = new GenericData.Record(eSchema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      e.put("data_file", dfr)
      e
    }
    val dataManifest = metaDir.resolve("fixture-m0.avro")
    writeAvro(dataManifest, eSchema,
      slices.map { case (f, n) => entry(f, n, 0, 1L) },
      Map("schema" -> schemaJson, "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "2", "content" -> "data"))
    val delManifest = metaDir.resolve("fixture-m1.avro")
    writeAvro(delManifest, eSchema,
      Seq(entry(delFile, nDel, if (equalityInstead) 2 else 1, 2L)),
      Map("schema" -> schemaJson, "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "2", "content" -> "deletes"))

    def mfRec(p: Path, content: Int, seq: Long, nFiles: Int): GenericRecord = {
      val mf = new GenericData.Record(manifestFileSchemaV2)
      mf.put("manifest_path", p.toUri.toString)
      mf.put("manifest_length", Files.size(p))
      mf.put("partition_spec_id", 0)
      mf.put("content", content)
      mf.put("sequence_number", seq)
      mf.put("min_sequence_number", seq)
      mf.put("added_snapshot_id", snapshotId)
      mf.put("added_data_files_count", nFiles)
      mf.put("existing_data_files_count", 0)
      mf.put("deleted_data_files_count", 0)
      mf
    }
    val manifestListPath = metaDir.resolve(s"snap-$snapshotId-1-fixture.avro")
    writeAvro(manifestListPath, manifestFileSchemaV2,
      Seq(mfRec(dataManifest, 0, 1L, slices.size), mfRec(delManifest, 1, 2L, 1)),
      Map("format-version" -> "2"))

    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", out.toString)
    root.put("last-sequence-number", 2L)
    root.put("last-updated-ms", 0L)
    root.put("last-column-id", lastColumnId)
    // v2 metadata: schemas list + current-schema-id (the single `schema`
    // key is the v1 form — deliberately absent here so the import's v2
    // resolution path is the one exercised)
    val schemas = root.putArray("schemas")
    schemas.add(mapper.readTree(schemaJson))
    root.put("current-schema-id", 0)
    val specs = root.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    spec0.putArray("fields")
    root.put("default-spec-id", 0)
    root.put("last-partition-id", 999)
    root.putObject("properties")
    root.put("current-snapshot-id", snapshotId)
    val snaps = root.putArray("snapshots")
    val snap = snaps.addObject()
    snap.put("snapshot-id", snapshotId)
    snap.put("sequence-number", 2L)
    snap.put("timestamp-ms", 0L)
    snap.putObject("summary").put("operation", "overwrite")
    snap.put("manifest-list", manifestListPath.toUri.toString)
    root.putArray("snapshot-log")
    root.putArray("metadata-log")
    IcebergInterop.publish(metaDir, 2L, root)
  }
}
