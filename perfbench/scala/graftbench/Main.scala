package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one closed loop.  A single thread issues
  * the workload's calls one after another on `local[4]`.
  *
  *   1. set-up: SparkSession plus two warm-up passes (codegen, JIT,
  *      caches) that do the timed passes' own work; the first also writes
  *      every output for the correctness check;
  *   2. timed passes within `--seconds` (at least one); with `--trace 1`
  *      untraced and traced passes alternate.
  *
  * Every pass is followed by the same hygiene outside its timing: a full GC
  * (whose old-generation reading is the pass's live heap), the catalog cache
  * and persisted RDDs cleared, the pass database and directory dropped.
  * Results go to `--out` as one JSON object. */
object Main {
  /** Executor slots of the closed loop: every run is `local[4]`. */
  val Cores = "4"

  final case class PassResult(wallS: Double, cpuS: Double, heapMb: Double,
      writeBytes: Long, traced: Boolean, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workloads.all(opts("workload"))
    val data = opts("data")
    val work = new File(opts("work")).getAbsolutePath
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.GraftSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.default.parallelism", Cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[bench] session ready ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s after JVM start")

    var ops = 0
    var failed = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val tracer = if (trace) Some(new Tracer(spark)) else None

    def runPass(pass: Int, traced: Boolean, sink: Option[String]): Option[PassResult] = {
      val passDir = s"$work/pass_$pass"
      new File(passDir).mkdirs()
      val t = if (traced) tracer else None
      t.foreach(_.install())
      val ctx = new Ctx(spark, data, passDir, pass, t, sink)
      val cpu = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val codegen0 = codegenCounters()
      val cpu0 = cpu.getProcessCpuTime
      val t0 = System.nanoTime()
      val ok =
        try {
          ctx.group("pass", opts("workload"))(workload.pass(ctx))
          true
        } catch {
          case e: Throwable =>
            errors += s"pass $pass: ${e.getClass.getName}: ${e.getMessage}".take(2000)
            e.printStackTrace()
            false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      val codegen1 = codegenCounters()
      ops += ctx.ops
      if (!ok) failed += 1
      val layers = t.map { tr =>
        tr.uninstall()
        tr.summarize(pass) ++ Map(
          "functions.codegen_compiles" -> (codegen1._1 - codegen0._1).toDouble,
          "functions.codegen_compile_ms" -> (codegen1._2 - codegen0._2) / 1e6)
      }.getOrElse(Map.empty)
      val heap = liveOldGenMb()
      val written = dirBytes(new File(passDir))
      hygiene(spark, passDir, pass)
      if (ok) Some(PassResult(wall, cpuS, heap, written, traced, layers)) else None
    }

    // 1. set-up: two warm-up passes that do the timed passes' own work; the
    //    first also writes every output for the correctness check.  After
    //    one pass the JIT is still compiling the hot paths: the next pass ran
    //    13-33 % slower than the ones after it
    val checkDir = s"$work/check"
    val checkOk = runPass(0, traced = false, sink = Some(checkDir)).isDefined
    runPass(1, traced = false, sink = None)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"[bench] warm-up passes done, set-up $setupS%.2f s")

    // 2. timed passes: at least one, then more while the next one should
    //    end inside the budget.  Tracing runs five, alternating untraced and
    //    traced; the overhead ratio compares their medians
    val results = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    val loop0 = System.nanoTime()
    var timed = 0
    var last = 0.0
    val minPasses = if (trace) 5 else 1
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (timed < minPasses || elapsed + last <= seconds) {
      val t = System.nanoTime()
      runPass(2 + timed, traced = trace && timed % 2 == 1, sink = None).foreach(results += _)
      last = (System.nanoTime() - t) / 1e9
      timed += 1
    }

    val spansPath = s"$work/spans.jsonl"
    tracer.foreach { tr =>
      val w = new java.io.PrintWriter(spansPath)
      try tr.spanLines.foreach(w.println) finally w.close()
    }
    spark.stop()

    def arr(xs: Seq[Double]) = xs.map(d => f"$d%.6f").mkString("[", ",", "]")
    val untraced = results.filterNot(_.traced)
    val traced = results.filter(_.traced)
    val layerNames = traced.flatMap(_.layers.keys).distinct.sorted
    val layerJson = layerNames.map { k =>
      s""""$k":${arr(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"setup_s":$setupS,"pass_s":${arr(untraced.map(_.wallS).toSeq)},""" +
        s""""cpu_s":${arr(untraced.map(_.cpuS).toSeq)},""" +
        s""""heap_mb":${arr(untraced.map(_.heapMb).toSeq)},""" +
        s""""write_bytes":${arr(results.map(_.writeBytes.toDouble).toSeq)},""" +
        s""""traced_pass_s":${arr(traced.map(_.wallS).toSeq)},""" +
        s""""layers":$layerJson,"ops":$ops,"failed_passes":$failed,""" +
        s""""check_ok":$checkOk,"check_dir":"$checkDir","errors":${errors.map(quote).mkString("[", ",", "]")}}"""
    val w = new java.io.PrintWriter(opts("out"))
    try w.println(json) finally w.close()
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** (compiles, compile time in ns) from Spark's codegen counters. */
  private def codegenCounters(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Old-generation occupancy right after a full collection, in MB.  The
    * first collection lets Spark's ContextCleaner see the pass's dead
    * broadcasts and shuffles; the pause lets it drop them; the second
    * collection frees what it dropped, so the reading is the live state. */
  private def liveOldGenMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1e6
  }

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Make the next pass start from the same state: nothing cached or
    * persisted from this pass, its database and files gone. */
  private def hygiene(spark: SparkSession, passDir: String, pass: Int): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.setCurrentDatabase("default")
    spark.sql(s"DROP DATABASE IF EXISTS bench_p$pass CASCADE")
    deleteRecursively(new File(passDir))
    System.gc()
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
