package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.perfbench.Cache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.{SparkEntry, Tables}

/** JVM side of the benchmark. It calls the engine only through its public
  * surface (`SparkEntry.queries`, `queryExecution.executedPlan`, `count()`,
  * `Tables`) and observes it through Spark's listener interfaces. It records raw observations; `run.py` turns them into
  * metrics.
  *
  * Usage: Harness <spec.json>; see [[run]] for what it does and
  * `run.py` for the spec.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = run(spec)
    Files.writeString(Paths.get(spec.get("out").asText()), mapper.writeValueAsString(out))
  }

  private def obj(kvs: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Tables.clear()
  }

  private def errorClass(e: Throwable): String = e match {
    case st: SparkThrowable if st.getCondition != null => st.getCondition
    case _ => e.getClass.getName
  }

  /** Physical plan nodes (through AQE wrappers and subqueries) and, among
    * them, exchanges. */
  private def planShape(plan: SparkPlan): (Int, Int) = {
    var nodes, exchanges = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ =>
        nodes += 1
        p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case _ =>
        }
        (p.children ++ p.subqueries).foreach(walk)
    }
    walk(plan)
    (nodes, exchanges)
  }

  /** Deletes the engine's per-process work files (replay inputs, stream
    * checkpoints, sinks), so a later pass re-runs every replay from
    * scratch instead of resuming a finished checkpoint. */
  private def clearWorkFiles(): Unit =
    sys.env.get("GRAFT_ORACLE_INPUT_DIR").foreach { base =>
      val dir = Paths.get(base, s"p${ProcessHandle.current().pid()}")
      if (Files.exists(dir))
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Sets up once, then runs passes over the workload's queries:
    * `min_passes` of them, and more until `seconds` have been measured.
    *
    * Set-up is: a SparkSession, pinning the ten tables into the columnar
    * cache, and the warm-up queries. It is timed from JVM start.
    *
    * Each pass runs in a fresh `newSession()` of the set-up session: it
    * shares the SparkContext and the pinned cache, but starts with an empty
    * function registry and empty per-session memos, and with the engine's
    * work files of earlier passes deleted, as a fresh process would. Each
    * query is timed as three calls: the registry function (build),
    * `queryExecution.executedPlan` (plan) and `count()` (execute). Cleanup
    * after a query is untimed and surgical: whatever the query left cached
    * or persisted is dropped, and the pinned tables stay.
    *
    * With `trace`, the run makes exactly two passes and each query runs
    * traced (with the listeners of [[Recorder]] attached) in one of them. */
  private def run(spec: JsonNode): JMap[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = spec.get("data").asText()
    val cpus = spec.get("cpus").asInt()
    val trace = spec.get("trace").asBoolean()
    val warmup = strings(spec.get("warmup"))
    val orders = spec.get("orders").elements().asScala.map(strings).toIndexedSeq
    val seconds = spec.get("seconds").asDouble()
    val minPasses = spec.get("min_passes").asInt()
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def epochMs(nanos: Long): Double = epochOffsetMs + nanos / 1e6

    val spark = session(cpus)
    var pinned = (Seq.empty[AnyRef], Set.empty[Int]) // cache entries, RDD ids
    def pin(): Unit = {
      // the ten tables are pinned concurrently, one job each
      val jobs = Tables.names.map { t =>
        Future { val df = Tables(spark, dir, t); df.persist(); df.count() }(ExecutionContext.global)
      }
      jobs.foreach(Await.result(_, Duration.Inf))
      pinned = (Cache.entries(spark), spark.sparkContext.getPersistentRDDs.keySet.toSet)
    }
    /** Untimed cleanup: drops what the query left cached or persisted and
      * keeps the pinned tables. Returns the number of RDDs it unpersisted. */
    def cleanup(): Int = {
      val stray = spark.sparkContext.getPersistentRDDs.keySet.toSet -- pinned._2
      Cache.dropExcept(spark, pinned._1, pinned._2)
      stray.size
    }

    val warmupErrors = new JList[Any]()
    val t1 = System.nanoTime()
    pin()
    val t2 = System.nanoTime()
    warmup.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).count()
      catch { case NonFatal(e) => warmupErrors.add(obj("query" -> q, "error" -> errorClass(e))) }
      cleanup()
    }
    val setup = obj("setup_s" -> (epochMs(System.nanoTime()) - jvmStartMs) / 1e3,
      "pin_s" -> (t2 - t1) / 1e9)

    val sc = spark.sparkContext
    val rec = new Recorder
    val queries = new JList[Any]()
    val passes = new JList[Any]()
    val half = orders.head.sorted.zipWithIndex.toMap // query -> index
    val measureStart = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (!trace && (System.nanoTime() - measureStart) / 1e9 < seconds)) {
      clearWorkFiles()
      val s = spark.newSession()
      val passStart = System.nanoTime()
      for (name <- orders(pass % orders.size)) {
        // with trace, half the queries are traced in even passes and the
        // other half in odd ones: every query is timed both ways, evenly
        // spread over the JVM's warm-up, and the listeners are attached
        // (untimed) only around traced queries
        val traced = trace && (half(name) + pass) % 2 == 1
        if (traced) {
          sc.addSparkListener(rec)
          s.streams.addListener(rec.streams)
          s.listenerManager.register(rec.actions)
        }
        val tag = s"$pass/$name"
        rec.current = tag
        sc.setLocalProperty(Recorder.QueryKey, tag)
        val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
        val t = Array.fill(4)(0L)
        var phase = "build"
        var df: DataFrame = null
        var count = -1L
        var error: Throwable = null
        var shape = (0, 0)
        sc.setLocalProperty(Recorder.PhaseKey, phase)
        t(0) = System.nanoTime()
        try {
          df = SparkEntry.queries(name)(s, dir)
          t(1) = System.nanoTime(); phase = "plan"; sc.setLocalProperty(Recorder.PhaseKey, phase)
          val plan = df.queryExecution.executedPlan
          t(2) = System.nanoTime(); phase = "execute"; sc.setLocalProperty(Recorder.PhaseKey, phase)
          count = df.count()
          t(3) = System.nanoTime()
          shape = planShape(plan)
        } catch {
          case NonFatal(e) =>
            error = e
            val now = System.nanoTime()
            for (k <- 1 to 3 if t(k) == 0L) t(k) = now
        }
        sc.setLocalProperty(Recorder.PhaseKey, null)
        sc.setLocalProperty(Recorder.QueryKey, null)
        val cg1 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
        val phases = Option(df).map(d => Recorder.phaseMs(d.queryExecution)).getOrElse(Map.empty)
        if (traced) {
          Bus.drain(sc)
          sc.removeSparkListener(rec)
          s.streams.removeListener(rec.streams)
          s.listenerManager.unregister(rec.actions)
        }
        val stray = cleanup()
        val r = obj(
          "pass" -> pass, "name" -> name, "tag" -> tag, "traced" -> traced,
          "start_ms" -> epochMs(t(0)), "build_end_ms" -> epochMs(t(1)),
          "plan_end_ms" -> epochMs(t(2)), "end_ms" -> epochMs(t(3)),
          "wall_s" -> (t(3) - t(0)) / 1e9, "build_s" -> (t(1) - t(0)) / 1e9,
          "plan_s" -> (t(2) - t(1)) / 1e9, "exec_s" -> (t(3) - t(2)) / 1e9,
          "count" -> count, "plan_nodes" -> shape._1, "exchanges" -> shape._2,
          "codegen_compile_ms" -> (cg1._1 - cg0._1) / 1e6,
          "codegen_classes" -> (cg1._2 - cg0._2),
          "catalyst_ms" -> new JMap[String, Any](phases.asJava),
          "persisted_rdds" -> stray)
        if (error != null) {
          r.put("error_class", errorClass(error))
          r.put("error", String.valueOf(error.getMessage).take(300))
          r.put("failed_phase", phase)
        }
        queries.add(r)
      }
      passes.add(obj("pass" -> pass, "wall_s" -> (System.nanoTime() - passStart) / 1e9))
      pass += 1
    }
    Bus.drain(sc)
    // oracle SQL may name files the queries wrote in this process, so it is
    // read here, after the queries ran
    val names = orders.flatten.toSet
    val out = obj("setup" -> setup, "warmup_errors" -> warmupErrors,
      "oracle_sql" -> new JMap[String, Any](SparkEntry.oracleSql.filter(kv => names(kv._1)).asJava),
      "rows_only" -> SparkEntry.rowsOnlyTwins.keys.toSeq.asJava,
      "queries" -> queries, "passes" -> passes, "cpus" -> cpus)
    rec.dump(out)
    stop(spark)
    out.put("vm_hwm_kb", vmHwmKb())
    out
  }
}
