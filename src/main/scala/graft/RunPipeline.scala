package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{CheckpointOps, DedupOps, GraphOps, SpatialOps}
import graft.sources.Synth

/** Production entrypoint (the spark-submit surface of the north rule):
  * materializes the training-corpus pipeline AND the spatial rollups as a
  * chain of DURABLE stages — every stage writes parquet + per-bucket
  * lineage (rows, checksum, wall_ms) through CheckpointOps, stages
  * decouple through their output tables (the next stage reads the
  * previous stage's parquet, exactly how production pipelines compose),
  * and a re-run executes ONLY what is missing: row-local stages resume at
  * bucket granularity, the global clustering loop resumes at ROUND
  * granularity (GraphOps.connectedComponentsResumable), and a completed
  * pipeline re-runs as a no-op. `main` takes (sfDir, outDir).
  *
  * Stage layout (buckets are deterministic key residues):
  *   gate      doc-bucketed : quality/length gate + fingerprint + split
  *   pairs     global       : capped MinHash-LSH candidate pairs
  *   clusters  round-durable: connected components over the pair graph
  *   survivors global       : one survivor per cluster + split column
  *   tiles     pid-bucketed : PIP tag + per-bucket partial tile rollup
  *   tilesum   global       : partial rollups combined
  *   routes    rel-bucketed : generic relation assembly (ordered members)
  */
object RunPipeline {

  val GateBuckets = 8
  val TileBuckets = 8
  val RouteBuckets = 4

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val executed = run(spark, sfDir, outDir)
    println(s"[pipeline] buckets executed per stage: $executed")
    spark.stop()
  }

  /** Runs (or resumes) every stage; returns stage -> units executed this
    * invocation (0 everywhere on a fully resumed pipeline).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Int] = {
    // ---- gate: row-local, bucketed by doc_id ------------------------------
    val corpus = Synth.corpus(spark, sfDir)
    val nGate = CheckpointOps.runResumable(spark, corpus, "doc_id",
      GateBuckets, s"$outDir/gate", s"$outDir/lineage/gate") { in =>
      in.filter(Fns.qualityScore(col("text")).cast("long") >= 400 &&
          Fns.tokenCount(col("text")).cast("long") >= 20)
        .select(col("doc_id"), col("text"),
          graft.plans.TextHashExpressions.docFingerprint(col("text")).as("fp"))
    }

    // ---- pairs: global (LSH bands cross buckets), single lineage unit -----
    val gated = spark.read.parquet(s"$outDir/gate")
    val nPairs = CheckpointOps.runResumable(spark,
      gated.select("doc_id", "text"), "doc_id", 1,
      s"$outDir/pairs", s"$outDir/lineage/pairs") { in =>
      DedupOps.minHashLshPairs(in)
    }

    // ---- clusters: the global loop, durable at ROUND granularity ----------
    val pairs = spark.read.parquet(s"$outDir/pairs")
    val hadPairRows = pairs.limit(1).count() > 0
    val (labels, _, roundsRun) =
      if (hadPairRows) {
        val (cc, total, run) = GraphOps.connectedComponentsResumable(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), s"$outDir/cc")
        (cc.select(col("node_id").as("doc_id"), col("component").as("cluster_id")),
          total, run)
      } else (pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("cluster_id")), 0, 0)

    // ---- survivors: one join + struct-min agg, single lineage unit --------
    val nSurv = CheckpointOps.runResumable(spark,
      gated.select("doc_id", "text", "fp"), "doc_id", 1,
      s"$outDir/survivors", s"$outDir/lineage/survivors") { in =>
      DedupOps.dedupSurvivors(in, labels)
        .join(in.select("doc_id", "fp"), "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("text_len"),
          when(col("fp") % 1000 < 800, "train")
            .when(col("fp") % 1000 < 900, "valid")
            .otherwise("test").as("split"))
    }

    // ---- tiles: row-local PIP + partial rollup, bucketed by pid -----------
    val points = Synth.points(spark, sfDir)
    val nTiles = CheckpointOps.runResumable(spark, points, "pid",
      TileBuckets, s"$outDir/tiles", s"$outDir/lineage/tiles") { in =>
      SpatialOps.pip(spark, in)
        .select(col("poly_id"),
          Fns.tileX(7, Fns.fixToDeg(col("lon_fix"))).as("tx"),
          Fns.tileY(7, Fns.fixToDeg(col("lat_fix"))).as("ty"))
        .groupBy("poly_id", "tx", "ty").agg(count(lit(1)).as("n"))
    }

    // ---- tilesum: combine the partial rollups, single lineage unit --------
    val partials = spark.read.parquet(s"$outDir/tiles")
    val nSum = CheckpointOps.runResumable(spark,
      partials.withColumn("__k", lit(0L)), "__k", 1,
      s"$outDir/tilesum", s"$outDir/lineage/tilesum") { in =>
      in.groupBy("poly_id", "tx", "ty").agg(sum("n").as("n"))
    }

    // ---- routes: generic relation assembly, bucketed by rel_id ------------
    // assembleGeneric groups strictly by rel_id, so a rel_id-residue bucket
    // carries ALL of its relations' members — the stage is relation-local
    // and resumes at bucket granularity; entity tables join in full each
    // bucket (broadcast-sized dimensions at this shape). The ordered member
    // list lands in the durable parquet as canonical JSON, the same gated
    // serialization contract as q_route_assembly.
    val (rMembers, rNodes, rWays, rRels) = SparkEntry.routeInput(spark, sfDir)
    val nRoutes = CheckpointOps.runResumable(spark, rMembers, "rel_id",
      RouteBuckets, s"$outDir/routes", s"$outDir/lineage/routes") { in =>
      graft.operators.AssemblyOps.assembleGeneric(in, rNodes, rWays, rRels)
        .withColumn("members", to_json(col("members"),
          java.util.Collections.singletonMap("ignoreNullFields", "false")))
    }

    Map("gate" -> nGate, "pairs" -> nPairs, "clusterRounds" -> roundsRun,
      "survivors" -> nSurv, "tiles" -> nTiles, "tilesum" -> nSum,
      "routes" -> nRoutes)
  }
}
