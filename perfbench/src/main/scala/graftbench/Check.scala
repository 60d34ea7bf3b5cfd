package graftbench

import graft.osmpbf.source.OsmPbf
import graft.pipeline.CheckpointedRunner

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** Output checks shared by the timed and the traced runs. Each returns
  * the problems it found; empty means correct. */
object Check {

  def tiles(df: DataFrame): Map[Long, Oracle.TileRow] =
    df.select("tile", "n_images", "n_hits", "n_distinct_polys").collect()
      .map(r => r.getLong(0) -> Oracle.TileRow(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  /** Per-tile rollup of the inputs' points, as the oracle computes it. */
  def expectedTiles(in: Inputs): Map[Long, Oracle.TileRow] =
    Oracle.rollup(in.points, in.truth.polys, Runner.Z)

  /** Decoded element counts per kind equal the generated counts. */
  def decodedCounts(spark: SparkSession, in: Inputs): Seq[String] = {
    val got = OsmPbf.countElements(spark, in.pbf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map("node" -> in.truth.nodes, "way" -> in.truth.ways, "relation" -> in.truth.relations)
    want.toSeq.collect { case (k, n) if got.getOrElse(k, 0L) != n =>
      s"decoded $k count ${got.getOrElse(k, 0L)} != generated $n" }
  }

  /** A finished `Main` output directory against the oracle, read through
    * `session` if one is up, else through a session of its own. */
  def mainOutput(jvm: Jvm, in: Inputs, out: File, session: Option[SparkSession]): Seq[String] = {
    val spark = session.getOrElse(Runner.session(jvm, Runner.cores, "graftbench-check"))
    try {
      val got = tiles(CheckpointedRunner.readOutput(spark, out.getAbsolutePath))
      Oracle.compareRollup(got, expectedTiles(in))
    } finally if (session.isEmpty) spark.stop()
  }
}
