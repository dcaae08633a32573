package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM, as a closed loop with one client: each op
  * runs to completion before the next starts.
  *
  *  1. set up `setups` times (session + the fixtures the ops read), each
  *     in a fresh session and fixture directory, and time each set-up;
  *  2. run a cold pass over the ops, writing each query op's output as
  *     parquet for the oracle check (ETL ops are checked on their last
  *     output);
  *  3. run warm passes until `seconds` have passed (at least `minPasses`);
  *     in a traced run the passes after the first alternate untraced and
  *     traced, starting untraced.
  *
  * An op is a declared query from `graft.SparkEntry.queries` (its "build"
  * is the query function, including any eager jobs; its "sink" writes the
  * result: into the `noop` sink, which forces every output column, on
  * warm passes), or a direct call to a `graft.sources.Etl` write function
  * (all "build").
  *
  * Usage: perfbench.Runner data=DIR work=DIR out=FILE ops=NAME:MODULE,...
  *          fixtures=csv:TABLE,... seconds=N minPasses=N trace=0|1
  *          setups=N cpus=N
  */
object Runner {
  final case class Op(name: String, module: String)

  final class Args(kv: Map[String, String]) {
    val data: String = kv("data")
    val work: String = kv("work")
    val out: String = kv("out")
    val ops: Seq[Op] = kv("ops").split(",").toSeq.map { s =>
      val Array(n, m) = s.split(":"); Op(n, m)
    }
    val fixtures: Seq[String] =
      kv.getOrElse("fixtures", "").split(",").toSeq.filter(_.nonEmpty)
    val seconds: Double = kv("seconds").toDouble
    val minPasses: Int = kv("minPasses").toInt
    val trace: Boolean = kv("trace") == "1"
    val setups: Int = kv("setups").toInt
    val cpus: Int = kv("cpus").toInt
  }

  /** The lineitem schema `etl_csv_schema` declares instead of inferring. */
  val LineitemDdl: String = "l_orderkey BIGINT, l_partkey BIGINT, " +
    "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
    "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9
  private def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def jitS: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  private def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  def main(argv: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val a = new Args(argv.map { s =>
      val i = s.indexOf('='); s.take(i) -> s.drop(i + 1)
    }.toMap)
    val tracer = new Tracer
    val runSpan = tracer.reserve()
    val runStart = tracer.now()
    val etlRoot = new File(a.work, "etl")
    // Etl.cachedFixture keeps its copies here, keyed by the input dir
    val fixtureRoot = new File(System.getProperty("java.io.tmpdir"),
      "graft_fix_" + a.data.replaceAll("[^a-zA-Z0-9]", "_"))

    def newSession(): SparkSession = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(graft.Tables.nanosConfKey, "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.listingParallelismKey,
        graft.Tables.listingParallelism(a.cpus.toString))
      .config("spark.sql.warehouse.dir", graft.sources.Etl.warehouseDir)
      .getOrCreate()

    def buildFixture(spark: SparkSession, f: String): String = f match {
      case s"csv:$table" => graft.sources.Etl.csvFixture(spark, a.data, table)
      case other => sys.error(s"unknown fixture $other")
    }

    // -- 1. set-up, several times; the last session stays open
    var spark: SparkSession = null
    val setups = (1 to a.setups).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      rmTree(fixtureRoot)
      tracer.span(runSpan, "setup", s"setup $k", "bench") { sid =>
        val t0 = System.nanoTime()
        spark = newSession()
        spark.sparkContext.setLogLevel("ERROR")
        val fx = a.fixtures.map { f =>
          val f0 = System.nanoTime()
          tracer.span(sid, "fixture", f, "sources")(_ => buildFixture(spark, f))
          f -> (System.nanoTime() - f0) / 1e9
        }
        Map("setup_s" -> (System.nanoTime() - t0) / 1e9,
          "fixtures" -> fx.toMap)
      }
    }
    // the ETL ops' input; workloads with ETL ops build it at set-up
    lazy val csvLineitem = graft.sources.Etl.csvFixture(spark, a.data, "lineitem")
    val hasEtl = a.ops.exists(_.name.startsWith("etl_"))
    val queries = graft.SparkEntry.queries
    def fixtureDirs = Option(fixtureRoot.list()).map(_.toSet).getOrElse(Set.empty)
    val declaredFixtures = fixtureDirs
    val firstOpEpochMs = System.currentTimeMillis()

    // -- ops
    var passNo = 0
    val lastEtlOut = mutable.Map.empty[String, String]
    val verifyRoot = new File(a.work, "verify")
    /** Runs one op; returns (build_s, sink_s, error). With `verify` the
      * output goes to parquet under `verifyRoot` instead of `noop`. */
    def runOp(op: Op, traced: Boolean, verify: Boolean, opSpan: Int)
        : (Double, Double, Option[String]) = {
      val sc = spark.sparkContext
      // in a traced run every listener event of a phase is delivered
      // before the phase ends, while its span is still the current one:
      // listener spans take the current span as their parent
      def phase[T](kind: String)(body: => T): T =
        tracer.span(opSpan, kind, op.name, op.module) { id =>
          if (traced) {
            tracer.current = id
            sc.setLocalProperty(Tracer.SpanKey, id.toString)
          }
          try body
          finally {
            if (traced) org.apache.spark.PerfbenchBus.drain(sc)
            sc.setLocalProperty(Tracer.SpanKey, null)
          }
        }
      var built = 0.0
      try {
        val t0 = System.nanoTime()
        val df: Option[DataFrame] = phase("build") {
          op.name match {
            case "etl_csv_infer" | "etl_csv_schema" =>
              val dst = new File(etlRoot, s"${op.name}/p$passNo").getPath
              if (op.name == "etl_csv_infer")
                graft.sources.Etl.csvToParquet(spark, csvLineitem, dst)
              else
                graft.sources.Etl.csvToParquetWithSchema(spark, csvLineitem,
                  LineitemDdl, dst, Seq("l_returnflag", "l_linestatus"))
              lastEtlOut(op.name) = dst
              None
            case name => Some(queries(name)(spark, a.data))
          }
        }
        val t1 = System.nanoTime()
        built = (t1 - t0) / 1e9
        df.foreach(d => phase("sink") {
          if (verify)
            d.write.mode("overwrite").parquet(new File(verifyRoot, op.name).getPath)
          else d.write.format("noop").mode("overwrite").save()
        })
        (built, (System.nanoTime() - t1) / 1e9, None)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          (built, 0.0, Some(String.valueOf(e.getMessage).take(300)))
      }
    }

    def listen(on: Boolean): Unit = {
      val sc = spark.sparkContext
      if (on) {
        sc.addSparkListener(tracer.sparkListener)
        spark.listenerManager.register(tracer.queryListener)
        spark.streams.addListener(tracer.streamListener)
      } else {
        sc.removeSparkListener(tracer.sparkListener)
        spark.listenerManager.unregister(tracer.queryListener)
        spark.streams.removeListener(tracer.streamListener)
      }
    }

    def pass(kind: String, traced: Boolean): Map[String, Any] = {
      passNo += 1
      // the previous pass's ETL outputs are dropped outside the timing
      a.ops.filter(_.name.startsWith("etl_")).foreach { op =>
        rmTree(new File(etlRoot, s"${op.name}/p${passNo - 1}"))
      }
      if (traced) listen(on = true)
      heapPools.foreach(_.resetPeakUsage())
      val c0 = cpuS; val g0 = gcS; val j0 = jitS
      val t0 = System.nanoTime()
      val ops = tracer.span(runSpan, "pass", s"$kind $passNo", "bench") { ps =>
        a.ops.map { op =>
          val counters = new OpCounters
          tracer.counters = counters
          val (b, s, err) = tracer.span(ps, "op", op.name, "bench") { os =>
            runOp(op, traced, kind == "cold", os)
          }
          val extra: Map[String, Any] =
            if (!traced) Map.empty
            else Map(
              "counters" -> counters.n.toMap,
              "task_intervals" -> counters.taskIntervals.map(t =>
                Seq(t._1, t._2)).toSeq,
              "batch_ms" -> counters.batchMs.toSeq,
              "state_rows" -> counters.stateRows.values.map(_._1).sum,
              "state_mem_mb" -> counters.stateRows.values.map(_._2).sum
                / 1048576.0)
          Map("name" -> op.name, "module" -> op.module, "build_s" -> b,
            "sink_s" -> s, "ok" -> err.isEmpty,
            "error" -> err.getOrElse("")) ++ extra
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val stats = Map("kind" -> kind, "pass_no" -> passNo, "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> (cpuS - c0), "gc_s" -> (gcS - g0),
        "jit_s" -> (jitS - j0), "heap_peak_mb" -> heapPeakMb, "ops" -> ops)
      if (traced) listen(on = false)
      stats
    }

    // -- 2./3. cold pass, then warm passes for the time budget
    rmTree(verifyRoot)
    val cold = pass("cold", traced = false)
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val w0 = System.nanoTime()
    while (warm.size < a.minPasses || (System.nanoTime() - w0) / 1e9 < a.seconds)
      warm += pass("warm", traced = a.trace && warm.size > 0 && warm.size % 2 == 0)
    val rss = rssPeakMb
    val oracle = a.ops.flatMap(op =>
      graft.SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap
    tracer.add(Span(runSpan, 0, "run", "run", "bench", runStart, tracer.now()))
    val result = Map(
      "main_epoch_ms" -> mainEpochMs,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "setups" -> setups,
      "cold" -> cold,
      "warm" -> warm.toSeq,
      "verify_dir" -> verifyRoot.getPath,
      // the last ETL outputs stand in for the cold pass's, which are gone
      "etl_outputs" -> lastEtlOut.toMap,
      "csv_lineitem" -> (if (hasEtl) csvLineitem else ""),
      // fixtures an op built lazily instead of at set-up
      "undeclared_fixtures" -> (fixtureDirs -- declaredFixtures).toSeq.sorted,
      "oracle_sql" -> oracle,
      "peak_rss_mb" -> rss,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> a.cpus)
    spark.stop()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new File(a.out), result)
    if (a.trace) json.writeValue(new File(a.out + ".spans.json"), tracer.spans)
  }
}
