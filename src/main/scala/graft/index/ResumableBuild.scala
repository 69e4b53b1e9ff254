package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable index builds (north-rule checkpoint/lineage requirement).
  *
  * The input is split deterministically into `waves` by key hash; each wave
  * builds its own disjoint segment-id range and records a checkpoint marker
  * `_checkpoints/wave_<i>.json` listing the wave's segments. A restarted
  * build skips completed waves — wave data writes use dynamic partition
  * overwrite, so re-running a partially-written wave is idempotent. The
  * snapshot is only published once every wave has checkpointed, so readers
  * never observe a partial build. Lineage lives in the metrics table
  * (build_id, segment_id, parents, merge_depth) plus the wave markers.
  */
object ResumableBuild {

  private def markerPath(indexDir: String, wave: Int) =
    new Path(s"$indexDir/_checkpoints/wave_$wave.json")

  /** Segments recorded by a completed wave, if its checkpoint exists. */
  def waveCheckpoint(spark: SparkSession, indexDir: String, wave: Int): Option[Seq[Int]] =
    MetaFiles.read(MetaFiles.fs(spark, indexDir), markerPath(indexDir, wave))(
      n => MetaFiles.ints(n.required("segments")))

  private[index] def writeCheckpoint(spark: SparkSession, indexDir: String, wave: Int, segs: Seq[Int]): Unit =
    MetaFiles.publish(MetaFiles.fs(spark, indexDir), markerPath(indexDir, wave),
      MetaFiles.obj("wave" -> wave, "segments" -> segs))

  /** Build (or resume) the index in `waves` independent passes. Returns all
    * segment ids and publishes the snapshot.
    */
  def build(
      spark: SparkSession,
      pages: DataFrame,
      schema: IndexSchema,
      indexDir: String,
      buildId: String,
      conf: IndexBuilder.BuildConf = IndexBuilder.BuildConf(),
      waves: Int = 4
  ): Seq[Int] = {
    val allSegs = (0 until waves).flatMap { w =>
      waveCheckpoint(spark, indexDir, w) match {
        case Some(segs) => segs // completed in a prior attempt
        case None =>
          val wavePages = pages.filter(
            pmod(xxhash64(col(schema.keyField).cast("string")), lit(waves)) === w)
          val segs = IndexBuilder.buildSegments(
            spark, wavePages, schema, indexDir, s"$buildId/wave-$w", conf,
            segOffset = w * conf.numSegments)
          writeCheckpoint(spark, indexDir, w, segs)
          segs
      }
    }
    IndexSchema.write(spark, indexDir, schema)
    Snapshots.commit(spark, indexDir, allSegs, buildId)
    allSegs
  }
}
