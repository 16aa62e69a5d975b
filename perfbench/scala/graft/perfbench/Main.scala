package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * Main --workload extract_scan|crawl_pipeline --seed N --seconds S
  *      --trace 0|1 --work DIR --result FILE [--smoke]
  * }}}
  *
  * Writes one JSON record to FILE: attempted/failed operation counts, every
  * metric it measured with its unit, the host stamp, and for a traced
  * `crawl_pipeline` run the curate query outputs the launcher checks
  * against their DuckDB oracles.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rec = new Record(a)
    Files.createDirectories(Paths.get(a.work))
    HeapWatch.reset()
    rec.put("host.nproc", Host.nproc, "count")
    rec.put("host.spin_mops", Host.spinMops(), "Mops/s")
    rec.tracer.span("workload", a.workload) {
      a.workload match {
        case "extract_scan"   => Workloads.extractScan(rec)
        case "crawl_pipeline" => Workloads.crawlPipeline(rec)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    rec.put("host.steal_frac", rec.steal.frac, "ratio")
    if (a.trace)
      Files.writeString(Paths.get(a.work, "spans.json"), rec.tracer.toJson)
    Files.writeString(Paths.get(a.result), rec.toJson + "\n")
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, result: String, smoke: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("result"), argv.contains("--smoke"))
  }
}

/** What one run measured and checked. */
final class Record(val args: Args) {
  val tracer = new Tracer(args.trace)
  val steal = new StealMeter
  private val metrics = LinkedHashMap.empty[String, (Double, String)]
  private val failures = ArrayBuffer.empty[String]
  private val oracle = ArrayBuffer.empty[(String, String, String, String)]
  var attempted = 0L
  var failed = 0L
  private val born = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** One checked operation; a false check counts as a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what; System.err.println(s"[perfbench] FAILED: $what") }
    ok
  }

  /** One operation that counts as failed if it throws. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try { val v = body; check(ok = true, what); Some(v) }
    catch {
      case e: Throwable =>
        check(ok = false, s"$what: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        None
    }

  /** A query output the launcher compares with its DuckDB oracle SQL run
    * over the parquet tables in `tables`. */
  def oracleCheck(query: String, outDir: String, tables: String, sql: String): Unit =
    oracle += ((query, outDir, tables, sql))

  def toJson: String = Json.obj(Seq(
    "workload" -> Json.str(args.workload),
    "seed" -> args.seed.toString,
    "trace" -> args.trace.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }),
    "oracle" -> oracle.map { case (q, d, t, s) =>
      Json.obj(Seq("query" -> Json.str(q), "out" -> Json.str(d), "tables" -> Json.str(t),
        "sql" -> Json.str(s)))
    }.mkString("[", ",", "]")))
}

object Sessions {
  /** A local session at `cores` cores, configured the way `graft.Main`
    * configures one (shuffle partitions = cores), with every file Spark
    * writes kept under `work`. Scans split into at least four tasks per
    * core: with the default of one per core, a few-MB input packs into
    * cores + 1 tasks and one straggler doubles the pass time at random. */
  def start(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.minPartitionNum", (4 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
