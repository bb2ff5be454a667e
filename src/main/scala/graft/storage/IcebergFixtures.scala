package graft.storage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthesizers for EXTERNAL Iceberg table layouts this sandbox cannot
  * otherwise produce: the offline container has no Iceberg runtime, so
  * interop against "a table some other engine wrote" is exercised by
  * emitting the byte format straight from the published spec
  * (iceberg.apache.org/spec), extended to the shapes the bridge's own
  * exporter deliberately never writes:
  *
  *  - an IDENTITY-partitioned v1 table whose data files DO NOT contain
  *    the partition column (the Hive-migrated `add_files` shape — the
  *    value exists only in each manifest entry's partition struct),
  *  - a v1 table partitioned by NON-IDENTITY transforms,
  *  - a format-v2 table with a POSITION-DELETE manifest (manifest-list
  *    `content=1`, `data_file.content=1`, the spec's `(file_path, pos)`
  *    delete parquet) — optionally a MALFORMED equality-delete entry
  *    (`content=2` without `equality_ids`) for the refusal arm — and its
  *    identity-partitioned sibling with a global delete, and
  *  - a format-v2 table with a well-formed EQUALITY-delete manifest in a
  *    sequence-observable history (data at seq 1 and 3, the delete at
  *    seq 2 — [[writeV2EqualityDeletes]]).
  *
  * Each fixture only stages its data and delete parquet files and
  * describes them; the manifests, manifest list and first metadata
  * version come from [[IcebergInterop.newTable]], the writer the
  * bridge's own exporter uses, so the two cannot drift apart. Used by
  * q145/q146/q152 and IcebergInteropSpec; all paths are the
  * spec-mandated full `file://` URIs.
  */
object IcebergFixtures {

  import IcebergInterop.{NewManifest, PartitionField, PartitionSpec,
    avroPartValue, icebergSchemaJson, newFile, newTable, writeOneFile}

  /** Partition value types that round-trip through a hive dir name — the
    * gate for the one-pass staging below; anything else takes the legacy
    * per-value loop.
    */
  private def hiveParseable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | DateType => true
    case _ => false
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
      val staged = IcebergInterop.hiveStagedFiles(tmp, names, types)
        .map { case (f, byName) => f -> names.map(byName) }
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
          (writeOneFile(spark, slice, "graft_ice_fix_", dataDir.resolve(s"p$i.parquet")), v, n)
        }
      }

    val spec = identitySpec(partCol, partIdx, partType)
    newTable(out, 1, schemaJson, lastColumnId, Seq(spec), Seq(NewManifest(
      "fixture-m0.avro", spec, files.map { case (f, v, n) =>
        newFile(f, n, partition = Map(partCol -> avroPartValue(v, partType)))
      })))
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
    def partRec(vs: Seq[Any]): Map[String, Any] = fields.map(_._1).zip(vs).toMap
    // ONE routed write for every value tuple (r17): the legacy loop paid
    // TWO full scans of `tagged` per tuple (slice write + count)
    val files: Seq[(Path, Map[String, Any], Long)] =
      if (pvTypes.forall(hiveParseable))
        stageOnePass(tagged, pvNames.zip(pvTypes), Nil, dropCols, dataDir)(
          (i, _) => s"p$i.parquet").map { case (f, vs, n) => (f, partRec(vs), n) }
      else {
        val groups: Seq[Seq[Any]] = tagged.select(pvNames.map(col): _*).distinct()
          .collect().map(_.toSeq).toSeq
          .sortBy(_.map(v => if (v == null) "" else v.toString).mkString("\u0000"))
        groups.zipWithIndex.map { case (vs, i) =>
          val cond = pvNames.zip(vs).map { case (pn, v) => col(pn) <=> lit(v) }
            .reduce(_ && _)
          val slice = tagged.filter(cond).drop(pvNames: _*).drop(dropCols: _*)
            .repartition(1)
          val f = writeOneFile(spark, slice, "graft_ice_xf_", dataDir.resolve(s"p$i.parquet"))
          val n = tagged.filter(cond).count()
          (f, partRec(vs), n)
        }
      }
    val spec = PartitionSpec(0, fields.zip(pvTypes).zipWithIndex.map {
      case (((n, t, src, _), dt), i) =>
        PartitionField(n, t, schema.fieldIndex(src) + 1, 1000 + i, dt)
    })
    newTable(out, 1, schemaJson, lastColumnId, Seq(spec), Seq(NewManifest(
      "fixture-m0.avro", spec, files.map { case (f, pv, n) => newFile(f, n, partition = pv) })))
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
      writeOneFile(spark, IcebergInterop.withParquetIds(
          Seq(deletedValue).toDF(eqCol), Seq(eqCol -> eqFieldId)),
        "graft_ice_v2edel_", dataDir.resolve("eqdel0.parquet"))
    }
    val spec = PartitionSpec(0)
    newTable(out, 2, schemaJson, lastColumnId, Seq(spec), Seq(
      NewManifest("fixture-m0.avro", spec,
        slices.map { case (f, n, seq) => newFile(f, n, seq = seq) }),
      NewManifest("fixture-m1.avro", spec, Seq(newFile(delFile, 1L, seq = 2L,
        content = 2, equalityIds = Seq(eqFieldId))))))
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
          val f = writeOneFile(spark, slice, "graft_ice_pv2_", dataDir.resolve(s"p$i.parquet"))
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
    val delFile = writeOneFile(spark, positionDeletes(delDf), "graft_ice_pv2del_",
      dataDir.resolve("del0.parquet"))
    val nDel = footerCount(delFile)
    require(nDel > 0, "fixture deleteCond matched no rows — pick a real wave")

    // the delete manifest sits under an unpartitioned spec (id 1), which
    // the metadata declares only with `declareGlobalSpec`
    val spec = identitySpec(partCol, partIdx, partType)
    val global = PartitionSpec(1)
    newTable(out, 2, schemaJson, lastColumnId,
      if (declareGlobalSpec) Seq(spec, global) else Seq(spec), Seq(
        NewManifest("fixture-m0.avro", spec, slices.map { case (f, v, n) =>
          newFile(f, n, partition = Map(partCol -> avroPartValue(v, partType)), seq = 1L)
        }),
        NewManifest("fixture-m1.avro", global,
          Seq(newFile(delFile, nDel, seq = 2L, content = 1)))))
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
    val delFile = writeOneFile(spark, positionDeletes(delDf), "graft_ice_del_",
      dataDir.resolve("del0.parquet"))
    val spec = PartitionSpec(0)
    newTable(out, 2, schemaJson, lastColumnId, Seq(spec), Seq(
      NewManifest("fixture-m0.avro", spec,
        slices.map { case (f, n) => newFile(f, n, seq = 1L) }),
      NewManifest("fixture-m1.avro", spec, Seq(newFile(delFile, footerCount(delFile),
        seq = 2L, content = if (equalityInstead) 2 else 1)))))
  }

  /** The one identity field a partitioned fixture declares: `partCol`
    * (schema position `partIdx`, so field id `partIdx + 1`) as partition
    * field 1000 of spec 0.
    */
  private def identitySpec(partCol: String, partIdx: Int, partType: DataType): PartitionSpec =
    PartitionSpec(0, Seq(PartitionField(partCol, "identity", partIdx + 1, 1000, partType)))

  /** A position-delete frame, one partition sorted by (`file_path`,
    * `pos`) as the spec's "Position Delete Files" requires, its columns
    * carrying the spec's reserved field ids.
    */
  private def positionDeletes(delDf: DataFrame): DataFrame =
    IcebergInterop.withParquetIds(
      delDf.repartition(1).sortWithinPartitions(col("file_path"), col("pos")),
      IcebergInterop.PositionDeleteIds)
}
