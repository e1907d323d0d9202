package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Q, SparkEntry, Tables}

/** JVM side of the benchmark; `perfbench/run.py` builds and launches it
  * with the workload's query names in `--queries`.
  *
  * Modes:
  *  - `manifest`: report every name in `--queries` that is not in
  *    `SparkEntry.allQueries` and exit 1 if there is one;
  *  - `run`: start the session, scan every table, run the warm pass (the
  *    end of which is the set-up time), then timed passes over the
  *    workload until `--seconds` have elapsed, in a closed loop with one
  *    caller.
  *
  * Each query execution is `q.bench(spark, dataDir)` followed by a noop
  * write, which computes every output column. The warm pass writes each
  * result to parquet instead, for the output check against the DuckDB
  * oracle that `run.py` makes after this process exits. */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val names = opt("queries").split(",").toSeq
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    unknown.foreach(n =>
      System.err.println(s"[perfbench] manifest: $n is not in SparkEntry.allQueries"))
    if (opt("mode") == "manifest") sys.exit(if (unknown.isEmpty) 0 else 1)
    require(unknown.isEmpty, "the workload names unknown queries")
    run(opt, opt("workload"), names.map(byName))
  }

  private def now(): Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def run(opt: Map[String, String], workload: String, queries: Seq[Q]): Unit = {
    val t0Ms = opt("t0-ms").toDouble
    val (data, out, cpus) = (opt("data"), opt("out"), opt("cpus").toInt)
    val trace = opt("trace") == "1"
    val scratch = Paths.get(out, "spark").toAbsolutePath.toString
    // session settings are graft.Bench's, at local[nproc]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.memory.storageFraction", "0.3")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark, cpus)) else None
    tracer.foreach(_.enable(true))

    val tablesStart = now()
    def tagged[T](qid: Int)(body: => T): T = tracer.fold(body)(_.tagged(qid)(body))
    for (n <- Tables.names) tagged(Tracer.SetupQid)(noop(Tables.t(spark, data, n)))
    val tablesSpan = (tablesStart, now())
    tracer.foreach(_.enable(false))

    // warm pass: compiles code, builds every fixture, index and handle
    // the timed passes reuse, and dumps the results for the output check
    val warm = mutable.LinkedHashMap.empty[String, Any]
    for (q <- queries) {
      val s = now()
      warm(q.name) =
        try {
          q.bench(spark, data).write.mode("overwrite")
            .parquet(Paths.get(out, "dump", q.name).toString)
          (now() - s) / 1000
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] warm ${q.name} FAILED: ${e.getMessage}")
          null
        }
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    val setupS = (now() - t0Ms) / 1000

    def storage(): (Long, Long, Int) = {
      val rdds = sc.getRDDStorageInfo
      (rdds.map(_.memSize).sum, rdds.map(_.diskSize).sum, rdds.length)
    }
    val (mem0, disk0, _) = storage()

    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passSpans = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double)]
    val rng = new scala.util.Random(opt("seed").toLong)
    val budgetMs = opt("seconds").toDouble * 1000
    // a traced run alternates untraced and traced passes in the order
    // U T T U U T T U ..., so the tracing overhead is measured in one
    // process and a steady warm-up trend cancels out of the comparison
    val minPasses = if (trace) 4 else 1
    val start = now()
    var pass = 0
    var qid = Tracer.SetupQid
    while (pass < minPasses || now() - start < budgetMs) {
      pass += 1
      val traced = trace && pass % 4 >= 2
      tracer.foreach(_.enable(traced))
      val (ps, cpu0) = (now(), processCpuS())
      for (q <- rng.shuffle(queries)) {
        qid += 1
        val t0 = now()
        var t1 = t0
        val ok =
          try {
            tagged(qid) { val df = q.bench(spark, data); t1 = now(); noop(df) }
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${q.name} FAILED (pass $pass): ${e.getMessage}")
            false
          }
        execs += Exec(qid, q.name, Modules.moduleOf(q.name), pass, traced, t0,
          if (ok) t1 else t0, now(), ok)
      }
      val (pe, cpu1) = (now(), processCpuS())
      val (mem, disk, rdds) = storage()
      passSpans += ((pass, traced, ps, pe))
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> (pe - ps) / 1000,
        "cpu_s" -> (cpu1 - cpu0), "storage_mem_bytes" -> mem,
        "storage_disk_bytes" -> disk, "storage_rdds" -> rdds)
    }
    val (mem, disk, rdds) = storage()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "trace" -> trace,
      "setup_s" -> setupS, "tables_scan_s" -> (tablesSpan._2 - tablesSpan._1) / 1000,
      "warm_s" -> warm, "passes" -> passes,
      "executions" -> execs.map(e => Map("name" -> e.name, "pass" -> e.pass,
        "traced" -> e.traced, "s" -> (e.t2 - e.t0) / 1000, "ok" -> e.ok)),
      "resident_bytes" -> (mem + disk),
      "cpus" -> cpus, "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "spark_conf" -> sc.getConf.getAll.toSeq.sortBy(_._1).toMap)
    for (t <- tracer) {
      val walls = (tr: Boolean) => passes.filter(_("traced") == tr).map(_("wall_s").asInstanceOf[Double]).toSeq
      val storageMetrics = Map(
        "storage.mem_bytes" -> mem.toDouble, "storage.disk_bytes" -> disk.toDouble,
        "storage.rdds" -> rdds.toDouble,
        "storage.growth_bytes" -> (mem + disk - mem0 - disk0).toDouble / math.max(1, passes.size))
      val (spans, metrics) = t.report(workload, execs.toSeq, tablesSpan, passSpans.toSeq,
        storageMetrics, walls(false), walls(true))
      Files.writeString(Paths.get(out, "trace.json"),
        Json(Map("workload" -> workload, "metrics" -> metrics, "spans" -> spans)))
      result("per_layer") = metrics
    }
    Files.writeString(Paths.get(out, "result.json"), Json(result))
    spark.stop()
  }
}
