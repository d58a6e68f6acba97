package graft.perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import graft.SparkEntry
import graft.core.Pin
import graft.pipeline.Climate
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark JVM. `run.py` launches it; it is not a user entry point.
  *
  *   setup                        build the session, print READY, exit
  *   run <workload> <dataDir> <outDir> <seconds> <trace> <records> <ops>
  *       <steadyFrom> <minSteady>
  *
  * `run` builds the session, then runs the op list pass after pass: a cold
  * pass, warm-up passes up to pass `steadyFrom`, then steady passes, at
  * least `minSteady` of them and until `seconds` have passed since the
  * first steady pass began. It writes one JSON line
  * per op and per pass to `records`. Outputs go to `<outDir>/p<pass>/<op>`
  * and are checked against the oracle by run.py after this JVM exits. With
  * trace = 1 the cold pass and every second steady pass are traced and the
  * others are not, so one run gives both the per-layer sums and the
  * tracing overhead.
  */
object Main {

  /** The engine session, configured like `graft.Bench` plus the engine's
    * extensions: local[cores], shuffle partitions = cores, codegen cache
    * 5000, UTC.
    */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One timed call sequence: construct a frame, then sink it. */
  final case class Op(name: String, construct: SparkSession => DataFrame,
      sink: (DataFrame, String) => Unit, bom: Boolean)

  private def parquetSink(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").parquet(out)

  private def csvWriter(df: DataFrame) =
    df.write.mode("overwrite").option("header", "true")

  /** The reference pipeline as three ops: the sorted monthly and annual
    * outputs as header CSVs, then split-by-state, which reads the monthly
    * CSV back and writes it partitioned by state (`nation_name`). All three
    * are BOM-stamped like the reference's `utf-8-sig`.
    */
  def etlOps(dataDir: String, passOut: String): Seq[Op] = {
    // split_by_state reads the CSV back with the schema of the frame that
    // wrote it in this pass
    var monthlySchema: org.apache.spark.sql.types.StructType = null
    Seq(
      Op("climate_monthly", s => {
        val df = Climate.monthly.fn(s, dataDir)
        monthlySchema = df.schema
        df
      }, (df, out) => csvWriter(df).csv(out), bom = true),
      Op("climate_annual", s => Climate.annual.fn(s, dataDir),
        (df, out) => csvWriter(df).csv(out), bom = true),
      Op("split_by_state", s => s.read.option("header", "true")
        .schema(monthlySchema).csv(s"$passOut/climate_monthly"),
        (df, out) => csvWriter(df).partitionBy("nation_name").csv(out),
        bom = true))
  }

  /** Registry queries in the given order, each in its production form
    * (the oracle-only top sort stripped) into a parquet sink.
    */
  def registryOps(dataDir: String, names: Seq[String]): Seq[Op] = {
    val defs = SparkEntry.defs.map(q => q.name -> q).toMap
    val unknown = names.filterNot(defs.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
    names.map(n => Op(n, s => defs(n).production(s, dataDir), parquetSink, bom = false))
  }

  private def counters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = args.head match {
    case "setup" =>
      val s = session()
      println("READY")
      s.stop()
    case "run" => run(args.tail)
    case other => sys.error(s"unknown mode $other")
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsS, traceS, recordsPath, opsS,
      steadyFromS, minSteadyS) = args.padTo(9, "")
    val steadyFrom = steadyFromS.toInt
    val minSteady = minSteadyS.toInt
    val t0 = System.nanoTime()
    val spark = session()
    val buildS = (System.nanoTime() - t0) / 1e9
    println("READY")
    val sc = spark.sparkContext
    val traced = traceS == "1"
    val tracer = new Tracer(sc)
    val out = new PrintWriter(recordsPath, "UTF-8")
    def emit(kv: (String, Any)*): Unit = { out.println(Json.obj(kv: _*)); out.flush() }
    val names = opsS.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def opsFor(passOut: String): Seq[Op] =
      if (workload == "climate_etl") etlOps(dataDir, passOut)
      else registryOps(dataDir, names)
    // oracle SQL for run.py (off the clock)
    val oracle = SparkEntry.defs.map(q => q.name -> q.oracle).toMap
    val opNames = opsFor(s"$outDir/p0").map(_.name)
    emit("kind" -> "ops", "ops" -> opNames,
      "oracle" -> opNames.map(n => n -> oracle.get(n).flatten).toMap,
      "cores" -> Runtime.getRuntime.availableProcessors)

    var deadline = Long.MaxValue
    var pass = 0
    // pass 0 is the cold pass and the passes before `steadyFrom` warm up
    // the JIT; the measured window starts with the first steady pass. In a
    // traced run every second steady pass is traced, so each sits between
    // two untraced ones and warm-up stays out of the overhead ratio.
    while (pass < steadyFrom + minSteady || System.nanoTime() < deadline) {
      if (pass == steadyFrom)
        deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
      val tracePass = traced &&
        (pass == 0 || (pass > steadyFrom && (pass - steadyFrom) % 2 == 1))
      val passOut = s"$outDir/p$pass"
      val c0 = counters()
      if (tracePass) tracer.attach()
      val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val p0 = tracer.now()
      opsFor(passOut).foreach { op =>
        val opOut = s"$passOut/${op.name}"
        val opId = s"p$pass/${op.name}"
        // t: op start, construct end, action end, BOM end, release start
        val t = Array.fill(5)(Double.NaN)
        t(0) = tracer.now()
        var failure: Option[String] = None
        var frame: Option[org.apache.spark.sql.execution.QueryExecution] = None
        var live = 0
        var cachedMb = 0.0
        try {
          sc.setLocalProperty(Tracer.PhaseKey, "construct")
          val df = op.construct(spark)
          t(1) = tracer.now()
          frame = Some(df.queryExecution)
          sc.setLocalProperty(Tracer.PhaseKey, "action")
          op.sink(df, opOut)
          t(2) = tracer.now()
          if (op.bom) Climate.stampUtf8Bom(opOut)
          t(3) = tracer.now()
        } catch {
          case NonFatal(e) => failure = Some(e.getClass.getName)
        } finally {
          sc.setLocalProperty(Tracer.PhaseKey, null)
          if (tracePass) {
            live = Pin.liveCount
            cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
          }
          t(4) = tracer.now()
          Pin.releaseAll()
        }
        val end = tracer.now()
        for (i <- 1 to 3 if t(i).isNaN) t(i) = t(4)
        val opLayers: Map[String, Double] = if (!tracePass) Map.empty else {
          val root = tracer.span(-1, opId, "op", t(0), end)
          val construct = tracer.span(root, opId, "construct", t(0), t(1))
          val action = tracer.span(root, opId, "action", t(1), t(2))
          if (op.bom) tracer.span(root, opId, "bom", t(2), t(3))
          tracer.span(root, opId, "release", t(4), end)
          tracer.finishOp(opId, root, construct, action, frame) ++ Map(
            "sink.bom_stamp_s" -> (t(3) - t(2)) / 1e3,
            "pin.live" -> live.toDouble,
            "pin.cached_mb" -> cachedMb,
            "pin.release_s" -> (end - t(4)) / 1e3)
        }
        if (failure.isEmpty) opLayers.foreach { case (k, v) => layers(k) += v }
        emit("kind" -> "op", "pass" -> pass, "op" -> op.name, "out" -> opOut,
          "ok" -> failure.isEmpty, "exc" -> failure, "wall_s" -> (end - t(0)) / 1e3,
          "traced" -> tracePass, "layers" -> opLayers)
      }
      val wall = (tracer.now() - p0) / 1e3
      if (tracePass) tracer.detach()
      val c1 = counters()
      val cores = Runtime.getRuntime.availableProcessors
      val passLayers = layers.toMap ++ c1.map { case (k, v) => k -> (v - c0(k)) } ++
        (if (tracePass) Map("exec.core_util" -> layers("exec.executor_run_s") / (wall * cores))
         else Map.empty)
      emit("kind" -> "pass", "pass" -> pass, "wall_s" -> wall, "traced" -> tracePass,
        "layers" -> passLayers)
      pass += 1
    }
    if (traced) {
      val w = new PrintWriter(recordsPath + ".spans", "UTF-8")
      tracer.spanLines().foreach(w.println)
      w.close()
    }
    emit("kind" -> "jvm", "session_build_s" -> buildS, "peak_rss_mb" -> peakRssMb())
    out.close()
    spark.stop()
  }
}
