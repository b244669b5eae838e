package graft.tools

import org.apache.spark.sql.SparkSession

/** Standalone stream/ingest-phase bench — the full Bench protocol takes
  * ~8 minutes; tuning the streaming micro-batch path needs just its
  * stream phase, repeated:
  *
  *   runMain graft.tools.StreamBench [sfDir] [reps]
  *
  * Runs graft.Bench's own streamThroughput/ingestThroughput (identical
  * feed, sink, and steady-state protocol — no lookalike harness that
  * could drift from the measured artifact). The per-layer split of each
  * micro-batch comes from `python3 perfbench/run.py --trace 1`.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (i <- 1 to reps) {
      val r = graft.Bench.streamThroughput(spark, sfDir)
      println(s"[streambench] run $i: eps=${r.eps} steady=${r.steadyEps} " +
        s"batches=${r.batches} spread=${r.spreadPct}%")
    }
    for (i <- 1 to reps) {
      val r = graft.Bench.streamThroughput(spark, sfDir, tableCount = 4)
      println(s"[streambench] multi(4) run $i: eps=${r.eps} steady=${r.steadyEps} " +
        s"batches=${r.batches} spread=${r.spreadPct}%")
    }
    for (i <- 1 to reps)
      println(s"[streambench] ingest run $i: docs/s=" +
        graft.Bench.ingestThroughput(spark, sfDir))
    spark.stop()
  }
}
