package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{GraftSession, SparkEntry, SubsetCli}
import graft.plans.Checkpoints
import graft.queries.{SimilarityQueries, TextQueries}
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM, driven by a plan file that `run.py`
  * derives from the workload and seed:
  *
  *   graftbench.Main <plan.json> <result.json>
  *
  * The run sets up once (session, scan-split calibration and, for the
  * corpus, model training), timed from JVM start, then makes exactly one
  * pass over the plan's ops on this thread. Every op materializes its
  * result as parquet under `out`, where `run.py` checks it after this
  * JVM has exited. */
object Main {
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val Array(planPath, resultPath) = argv
    val plan = mapper.readTree(new java.io.File(planPath))
    val workload = plan.get("workload").asText()
    val trace = new Trace(plan.get("trace").asBoolean())
    val dataDir = plan.get("data_dir").asText()
    val out = plan.get("out").asText()
    trace.installCodegenCounter()
    val classesBefore = compiledClasses()

    // set-up counts from JVM start: class loading is part of what a user
    // waits for before the first op
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val (spark, setup) = trace.span("setup", "setup") {
      val spark = trace.span("catalog.session") { GraftSession.local("graftbench") }
      trace.attach(spark.sparkContext)
      val b = trace.nowMs
      trace.span("catalog.calibrate") { Sources.calibrateScanSplit(spark, dataDir) }
      val c = trace.nowMs
      if (plan.get("train").asBoolean()) trace.span("queries.train") {
        TextQueries.prepareLmModels(spark, dataDir, lm = true, dsir = false)
        SimilarityQueries.prepareIvfModels(spark, dataDir, topk = true, recall = false)
      }
      val end = trace.nowMs
      (spark, Map("total_s" -> (end - t0) / 1e3, "session_s" -> (b - t0) / 1e3,
        "calibrate_s" -> (c - b) / 1e3, "train_s" -> (end - c) / 1e3))
    }

    val ops = ArrayBuffer[Map[String, Any]]()

    /** Time one op (everything in `body`), record its outcome, then drop
      * its persisted blocks outside the timed window. */
    def runOp(id: String, key: String)(body: => Map[String, Any]): Double = {
      val t0 = System.nanoTime()
      val (ok, err, extra) =
        try (true, "", trace.span("op", id)(body))
        catch { case e: Throwable =>
          System.err.println(s"[graftbench] op $id ($key) failed: $e")
          (false, s"${e.getClass.getName}: ${e.getMessage}", Map.empty[String, Any])
        }
      val wall = (System.nanoTime() - t0) / 1e9
      ops += Map("id" -> id, "key" -> key, "wall_s" -> wall, "ok" -> ok, "error" -> err) ++ extra
      Checkpoints.clearAll(spark)
      wall
    }

    /** Build a DataFrame, then run `action` on it. Planning is timed
      * apart only when tracing: the action plans its own command, so
      * forcing the plan first costs a second one. */
    def materialize[T](build: => DataFrame)(action: DataFrame => T): T = {
      val df = trace.span("queries.construct")(build)
      if (trace.enabled) trace.span("catalyst.plan") { df.queryExecution.executedPlan }
      trace.span("exec.run")(action(df))
    }

    def queryPass(): Double =
      plan.get("keys").elements().asScala.map(_.asText()).toSeq.map { key =>
        val path = s"$out/$key"
        runOp(key, key) {
          materialize(SparkEntry.queries(key)(spark, dataDir))(_.write.parquet(path))
          Map("out" -> path)
        }
      }.sum

    /** The reference's own job: plan, subset, audit — once into a fresh
      * destination, then again into the same one with more forced rows
      * (the delta/staged-append path). A snapshot of the destination
      * after each op lets run.py audit every state, not just the last. */
    def subsetPass(): Double = {
      val dest = s"$out/dest"
      plan.get("subset_ops").elements().asScala.toSeq.zipWithIndex.map { case (o, i) =>
        val f = o.get("fraction").asText()
        val key = if (i == 0) "subset_fresh" else "subset_delta"
        val id = s"$key-$f"
        val args = SubsetCli.parse(Seq(dataDir, dest, f, "--yes", "--force", o.get("force").asText()))
        val wall = runOp(id, key) {
          trace.span("sources.footer") { SubsetCli.plan(spark, args) }
          val written = trace.span("operators.subset") { SubsetCli.run(spark, args) }
          val orphans = trace.span("operators.validate") {
            materialize(SubsetCli.validateDest(spark, dest, written.keySet)
              .agg(sum("orphans")))(_.head().getLong(0))
          }
          Map("orphans" -> orphans)
        }
        val snapshot = s"$out/$id-snapshot"
        copyTree(new java.io.File(dest), new java.io.File(snapshot))
        ops(ops.size - 1) = ops.last + ("out" -> snapshot)
        wall
      }.sum
    }

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val passWall = if (workload == "subset") subsetPass() else queryPass()
    // CPU time of the whole JVM over the pass: what the pass cost in
    // cores, which host steal inflates far less than wall time
    val passCpu = (os.getProcessCpuTime - cpu0) / 1e9
    val classes = compiledClasses() - classesBefore

    val keys = ops.map(_("key").toString).distinct.toSeq
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    val fks = graft.FkGraph.default.fks.map(fk => Map(
      "child" -> fk.childTable, "child_cols" -> fk.childCols,
      "parent" -> fk.parentTable, "parent_cols" -> fk.parentCols))
    val cores = spark.sparkContext.defaultParallelism
    // stop drains the listener bus, so the trace is complete after it
    spark.stop()
    val result = Map(
      "workload" -> workload,
      "data_dir" -> dataDir,
      "setup" -> setup,
      "ops" -> ops.toSeq,
      "pass_wall_s" -> passWall,
      "pass_cpu_s" -> passCpu,
      "cores" -> cores,
      "oracle" -> oracle,
      "fks" -> fks,
      "codegen_classes" -> classes,
      "peak_rss_mb" -> peakRssMb(),
      "trace" -> (if (trace.enabled) trace.toJson else Map.empty[String, Any]))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(resultPath), toJava(result))
  }

  /** Classes Spark's codegen has compiled in this JVM so far. */
  private def compiledClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }
}
