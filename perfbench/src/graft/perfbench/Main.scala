package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, one JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --model <dir> [--prepare 1]
  *
  * With `--prepare 1` it only fits and saves the model into `--model`.
  * A run deploys the recommender's serve job from a model fitted on the
  * generated tables and drives it with seeded events through one
  * open-loop phase and a backlog. The last stdout line is the
  * result object. */
object Main {

  /** A workload: the event shape (u_first_select when `firstSelect`,
    * else u_like) and the open-loop rate in events/s. */
  final case class Workload(firstSelect: Boolean, rate: Double)

  /** The rate sits at about 0.2 of the workload's backlog drain rate on a
    * quiet 4-core machine and at 0.3–0.5 of it on one that runs at half
    * speed. Nearer the drain rate a batch's wall grows as
    * 1 / (1 - rate / drain rate), so a slow minute of a shared machine
    * would move the latencies by more than it moves the machine. */
  def workload(name: String): Workload = name match {
    // u_like: known users send collect events; 10% carry their books
    case "serve" => Workload(firstSelect = false, rate = 250)
    // u_first_select: first-login users send the books they picked;
    // payload-only scoring costs about three times as much per event
    case "first_select" => Workload(firstSelect = true, rate = 125)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // the untimed warm-up batches and their size, the standing backlog and
  // the check batch, in events
  val WarmupBatches = 3
  val WarmupEvents = 250
  val Backlog = 1000
  val CheckEvents = 200

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val w = workload(name)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = Run(spark, name, seed, seconds, trace, work, opts("model"), w)
    val result =
      try if (opts.get("prepare").contains("1")) { run.prepare(); Nil } else run.go()
      finally spark.stop()
    result.foreach(println)
  }
}
