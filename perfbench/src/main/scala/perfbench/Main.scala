package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `run.py` generates the inputs, launches this with
  * the workload's arguments, then checks the outputs and computes every
  * metric from the raw record this writes to `<out>/raw.json`.
  *
  * Arguments (all `--key value`): workload, seed, trace (0|1),
  * cores, data (synthetic tables), shop and requests (MovieShop tables
  * and the request list), out.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val out = args("out")
    Files.createDirectories(Paths.get(out))
    val trace = new Trace(args("trace") == "1")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val raw = new Out
    raw("cores") = cores
    try {
      args("workload") match {
        case "engine" => Workloads.engine(spark, trace, args, raw)
        case "shop" => Workloads.shop(spark, trace, args, raw)
      }
    } finally {
      raw("vmhwm_kb") = ProcSample.vmHwmKb()
      if (trace.traced) {
        trace.drain(spark)
        raw("spans") = trace.allSpans
      }
      Files.writeString(Paths.get(out, "raw.json"), raw.json)
      spark.stop()
    }
  }
}
