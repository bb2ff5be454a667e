package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pit.AsOfJoin
import graft.storage.VersionedTable

/** Streaming point-in-time feature enrichment — the serving-side analogue
  * of `generateDataset` (reference training-set semantics:
  * `macros/get_features.sql`, `tests/.../test_feature_store_workflows.py:153-184`):
  * a stream of spine events is enriched per micro-batch with the latest
  * feature row at-or-before each event's timestamp, against the newest
  * COMMITTED snapshot of a versioned feature table.
  *
  *   1. each micro-batch of spine events runs the SAME batch
  *      [[AsOfJoin.joinAsOf]] used for training sets — one code path for
  *      backfill and ingest, so online/offline skew is zero by construction
  *      (hot-key salting included: detection is memoized per snapshot);
  *   2. the feature side is re-resolved from the manifest at every batch,
  *      so a refresh that commits between ticks is picked up at the next
  *      tick, and a batch mid-flight keeps its pinned snapshot (manifest
  *      reads are versioned — a concurrent commit never tears a batch);
  *   3. enriched rows append through a batchId-guarded manifest commit:
  *      a replayed micro-batch after a crash is skipped (exactly-once).
  *
  * 100 TB shape: per tick, work is O(batch) spine rows; the as-of join's
  * spine-key semi-join prefilter prunes the (large) feature history to the
  * batch's keys before its one shuffle. The feature table is never rewritten by the enrichment — output is an
  * append-only enriched event log downstream training can consume.
  */
object StreamingEnrich {

  /** @param sourceDir    parquet directory to stream spine events from
    * @param schema       spine schema (must contain joinKeys + eventTs)
    * @param featurePath  [[VersionedTable]] holding feature history rows
    *                     (joinKeys + featureTs + feature columns)
    * @param outPath      manifest table receiving enriched events
    * @param featureCols  feature columns to carry (default: all non-key,
    *                     non-ts columns of the feature table)
    * @param maxStaleness optional Feast-style freshness bound, e.g. "7 days"
    * @param availableNow true = drain current files and stop (tests);
    *                     false = continuous at `trigger`
    */
  def start(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      joinKeys: Seq[String],
      eventTs: String,
      featurePath: String,
      featureTs: String,
      outPath: String,
      featureCols: Seq[String] = Seq.empty,
      maxStaleness: Option[String] = None,
      trigger: String = "1 minute",
      availableNow: Boolean = false): StreamingQuery =
    startForeachBatch(spark, sourceDir, schema, outPath, trigger, availableNow) { batch =>
      // latest committed snapshot, pinned for this whole batch; hot-key
      // detection is memoized on the snapshot's manifest version, so an
      // unchanged feature table costs zero detection jobs after batch 1
      val features = VersionedTable.read(spark, featurePath)
      val snapKey = VersionedTable.readManifest(featurePath)
        .map(m => s"asof:$featurePath@${m.version}:keys=${joinKeys.mkString(",")}")
      AsOfJoin.joinAsOf(batch, features, joinKeys, eventTs, featureTs,
        featureCols, maxStaleness = maxStaleness, hotKeyCacheKey = snapKey)
    }

  /** Shared micro-batch scaffold ([[start]] and `FeatureStore.enrichStream`):
    * parquet file stream → per-batch `enrich` → batchId-guarded exactly-once
    * append to a versioned output table. `enrich` runs INSIDE the append's
    * replay guard, so a replayed micro-batch is skipped before paying any
    * enrichment cost.
    */
  private[graft] def startForeachBatch(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      outPath: String,
      trigger: String,
      availableNow: Boolean)(enrich: DataFrame => DataFrame): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        VersionedTable.append(outPath, Some(bid))(dir =>
          enrich(batch).write.parquet(dir))
        ()
      }
      .option("checkpointLocation", outPath + "__checkpoint")
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(trigger))
      .start()
  }
}
