package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.rspn.{CompiledSpn, Ensemble, SqlEstimate, Store, Update}
import graft.schema.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: a closed loop with one client, over one workload.
  *
  * `run.py` writes the generated inputs to `<input.json>`; this process sets
  * the program up, runs the timed loop through the program's public entry
  * points, and writes raw samples and answers to `<output.json>`. Answers
  * are checked and metrics computed by `run.py`, outside this process.
  *
  * Usage: graft.perfbench.Main <input.json> <output.json> [<input.json> <output.json> ...]
  *
  * Several pairs run one after another in this JVM, each with its own
  * SparkSession; the class-data-sharing archive run uses that.
  */
object Main {

  final class Input(j: JValue) {
    private implicit val formats: Formats = DefaultFormats
    val workload: String = (j \ "workload").extract[String]
    val dataDir: String = (j \ "data_dir").extract[String]
    val workDir: Path = Paths.get((j \ "work_dir").extract[String])
    val seconds: Double = (j \ "seconds").extract[Double]
    val trace: Boolean = (j \ "trace").extract[Boolean]
    val cores: Int = (j \ "cores").extract[Int]
    /** tables read and cached during set-up */
    val tables: Seq[String] = (j \ "tables").extract[Seq[String]]
    /** aqp_fold: tables registered as temp views for `spark.sql` */
    val views: Seq[String] = (j \ "views").extractOrElse[Seq[String]](Nil)
    val warmup: Seq[String] = (j \ "warmup").extract[Seq[String]]
    /** aqp_fold: SQL texts; olap_exact/corpus_dedup: op names */
    val stream: Seq[String] = (j \ "stream").extract[Seq[String]]
    /** ops per indivisible unit of the stream: the loop only stops between units */
    val unit: Int = (j \ "unit").extract[Int]
    /** ops per round: the loop records the time at the end of each round */
    val round: Int = (j \ "round").extract[Int]
    /** aqp_fold: rows of the seeded update batch a traced run applies after the timed loop */
    val updateRows: Int = (j \ "update_rows").extractOrElse[Int](0)
    val seed: Long = (j \ "seed").extract[Long]
  }

  /** One timed op. `fields` holds extra JSON values (answers, counters). */
  final case class Rec(op: Long, name: String, startMs: Long, ms: Double, error: Option[String]) {
    val fields = mutable.LinkedHashMap.empty[String, JValue]
    def endMs: Long = startMs + math.ceil(ms).toLong
  }

  private var opCounter = 0L
  private def nextOp(): Long = { opCounter += 1; opCounter }

  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args.length % 2 == 0,
      "usage: graft.perfbench.Main <input.json> <output.json> [<input.json> <output.json> ...]")
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    args.grouped(2).foreach { case Array(input, output) => run(input, output) }
  }

  private def run(inputPath: String, outputPath: String): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val in = new Input(JsonMethods.parse(new java.io.File(inputPath)))
    Files.createDirectories(in.workDir)
    val tracer = new Tracer(in.trace)
    val setup = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${in.cores}]")
      .config("spark.sql.shuffle.partitions", in.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", in.workDir.resolve("spark-local").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    setup("session_ms") = msSince(t0)

    val t1 = System.nanoTime()
    in.tables.foreach(t => Tables(spark, in.dataDir, t).count())
    setup("warm_ms") = msSince(t1)

    val workload: Workload = in.workload match {
      case "aqp_fold"      => new AqpFold(spark, in, tracer)
      case "olap_exact" | "corpus_dedup" => new NamedOps(spark, in, tracer)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.setUp(setup)

    val osBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val firstOpMs = System.currentTimeMillis()
    val cpu0 = osBean.getProcessCpuTime
    val timed0 = System.nanoTime()
    val recs = mutable.ArrayBuffer.empty[Rec]
    val roundEndMs = mutable.ArrayBuffer.empty[Double]
    val deadline = timed0 + (in.seconds * 1e9).toLong
    var next = 0
    while (next < in.stream.length && (next % in.unit != 0 || System.nanoTime() < deadline)) {
      recs ++= workload.step(in.stream(next))
      next += 1
      if (next % in.round == 0) roundEndMs += msSince(timed0)
    }
    require(next % in.unit == 0, s"input stream ran out inside a unit (${in.stream.length} items)")
    val timedMs = msSince(timed0)
    val cpuMs = (osBean.getProcessCpuTime - cpu0) / 1e6

    workload.afterTimed()
    val heapMb = retainedHeapMb(spark)
    layers("schema.cached_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    if (in.trace) {
      recs.foreach { r =>
        val c = tracer.countersFor(r.op)
        r.fields ++= Seq[(String, Double)](
          "exec_driver_ms" -> tracer.driverOnlyMs(r.startMs, r.endMs, r.op),
          "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
          "task_wait_ms" -> c.taskWaitMs, "task_cpu_ms" -> c.taskCpuMs, "gc_ms" -> c.gcMs,
          "input_bytes" -> c.inputBytes.toDouble, "input_rows" -> c.inputRows.toDouble,
          "shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
          "shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
          "spill_bytes" -> c.spillBytes.toDouble).map { case (k, v) => k -> JDouble(v) }
      }
      workload.traced(layers)
      tracer.writeSpans(in.workDir.resolve("spans.jsonl"))
    }

    def numbers(m: mutable.Map[String, Double]) = JObject(m.toList.map { case (k, v) => k -> JDouble(v) })
    val out = JObject(
      "workload" -> JString(in.workload),
      "setup_s" -> JDouble((firstOpMs - jvmStartMs) / 1000.0),
      "setup" -> numbers(setup),
      "timed_s" -> JDouble(timedMs / 1000.0),
      "round" -> JInt(in.round),
      "round_end_ms" -> JArray(roundEndMs.toList.map(JDouble(_))),
      "cpu_ms" -> JDouble(cpuMs),
      "heap_retained_mb" -> JDouble(heapMb),
      "layers" -> numbers(layers),
      "ops" -> JArray(recs.toList.map { r =>
        JObject(List[JField]("name" -> JString(r.name), "ms" -> JDouble(r.ms),
          "error" -> r.error.map(JString(_)).getOrElse(JNull)) ++ r.fields)
      }))
    Files.write(Paths.get(outputPath), Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** A workload's set-up, its timed step, and its untimed follow-up. */
  trait Workload {
    def setUp(setup: mutable.Map[String, Double]): Unit
    def step(item: String): Seq[Rec]
    /** after the timed loop, before the heap is measured */
    def afterTimed(): Unit = ()
    /** traced runs only, after the heap is measured */
    def traced(layers: mutable.Map[String, Double]): Unit = ()
  }

  /** Builds and collects one DataFrame, timing the build (the op returning
    * its DataFrame) and the execution; traced runs add the Catalyst phases
    * from the query's planning tracker as spans.
    */
  private def runDf(tracer: Tracer, name: String)(build: => DataFrame): (Rec, Option[(DataFrame, Array[Row])]) = {
    val op = nextOp()
    tracer.beginOp(op)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = build
      val buildMs = msSince(t0)
      val rows = df.collect()
      val rec = Rec(op, name, w0, msSince(t0), None)
      rec.fields("build_ms") = JDouble(buildMs)
      rec.fields("exec_ms") = JDouble(rec.ms - buildMs)
      if (tracer.enabled) {
        tracer.span(op, name, "", w0.toDouble, w0 + rec.ms)
        tracer.span(op, "build", name, w0.toDouble, w0 + buildMs)
        df.queryExecution.tracker.phases.foreach { case (phase, p) =>
          rec.fields(s"${phase}_ms") = JDouble(p.durationMs.toDouble)
          tracer.span(op, phase, name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
        tracer.span(op, "execute", name, w0 + buildMs, w0 + rec.ms)
      }
      (rec, Some((df, rows)))
    } catch {
      case NonFatal(e) => (Rec(op, name, w0, msSince(t0), Some(errorText(e))), None)
    } finally tracer.endOp()
  }

  /** aqp_fold: plain `spark.sql` aggregates with the transparent fold on. */
  final class AqpFold(spark: SparkSession, in: Input, tracer: Tracer) extends Workload {
    private var state: Ensemble.EnsembleState = _
    private var trainWindow = (0L, 0L)

    def setUp(setup: mutable.Map[String, Double]): Unit = {
      in.views.foreach(t => Tables(spark, in.dataDir, t).createOrReplaceTempView(t))
      val op = nextOp()
      tracer.beginOp(op)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      state = Ensemble.state(spark, in.dataDir)
      tracer.endOp()
      setup("train_ms") = msSince(t0)
      tracer.span(op, "train", "", w0.toDouble, w0 + setup("train_ms"))
      trainWindow = (w0, System.currentTimeMillis())
      spark.conf.set("spark.graft.spn.sfDir", in.dataDir)
      spark.conf.set("spark.graft.aqp.enabled", "true")
      val t1 = System.nanoTime()
      in.warmup.foreach(q => spark.sql(q).collect())
      setup("warmup_ms") = msSince(t1)
    }

    def step(sql: String): Seq[Rec] = {
      val e0 = Ensemble.expectEvals.sum()
      val (rec, res) = runDf(tracer, "query")(spark.sql(sql))
      rec.fields("expect_evals") = JLong(Ensemble.expectEvals.sum() - e0)
      rec.fields("sql") = JString(sql)
      res.foreach { case (df, rows) =>
        val scans = df.queryExecution.optimizedPlan.collectFirst {
          case _: LogicalRelation | _: InMemoryRelation => ()
        }
        rec.fields("folded") = JBool(scans.isEmpty)
        rec.fields("answer") = Json.rows(df.columns.toSeq, rows)
      }
      Seq(rec)
    }

    /** The model plane's write side, after the timed loop: persist and
      * reload the ensemble, recompile every model, and insert then delete a
      * seeded batch of lineitem rows in the lineitem model.
      */
    private def writeSide(layers: mutable.Map[String, Double]): Unit = {
      val dir = in.workDir.resolve("model")
      val t0 = System.nanoTime()
      Store.save(dir.toString, state.spns)
      layers("rspn.save_ms") = msSince(t0)
      layers("model_bytes") = dir.toFile.listFiles.map(_.length).sum.toDouble
      val t1 = System.nanoTime()
      Store.load(dir.toString)
      layers("rspn.load_ms") = msSince(t1)
      val t2 = System.nanoTime()
      layers("rspn.model_nodes") = state.spns.values.map(s => CompiledSpn(s.root).nodes).sum.toDouble
      layers("rspn.compile_ms") = msSince(t2)

      val (cols, exprs) = Ensemble.encoded(spark, in.dataDir, "lineitem")
      val model = state.spns.values.find(_.tables == Set("lineitem"))
        .getOrElse(sys.error("the ensemble has no lineitem model"))
      require(model.cols.map(_.name).sameElements(cols.map(_.name)),
        "lineitem model columns differ from the table encoding")
      val batch = Tables(spark, in.dataDir, "lineitem").select(exprs: _*)
        .sample(withReplacement = false, 0.01, in.seed).limit(in.updateRows).collect()
        .map(r => Array.tabulate(exprs.length)(i => if (r.isNullAt(i)) Double.NaN else r.get(i).asInstanceOf[Number].doubleValue))
      val t3 = System.nanoTime()
      Update.deleteBatch(Update.insertBatch(model.root, batch), batch)
      layers("rspn.update_us_per_row") = msSince(t3) * 1000 / math.max(1, 2 * batch.length)
    }

    override def traced(layers: mutable.Map[String, Double]): Unit = {
      writeSide(layers)
      val (a, b) = trainWindow
      layers("rspn.train_driver_ms") = tracer.driverOnlyMs(a, b)
      layers("rspn.train_jobs") = tracer.jobsWithin(a, b).toDouble
      layers("rspn.state_ms") = median((1 to 21).map { _ =>
        val t0 = System.nanoTime(); Ensemble.state(spark, in.dataDir); msSince(t0)
      })
      SparkSession.setActiveSession(spark)
      val est = in.stream.take(40).flatMap { sql =>
        val t0 = System.nanoTime()
        scala.util.Try(SqlEstimate.estimate(state.spns, sql)).toOption.map(_ => msSince(t0))
      }
      layers("rspn.estimate_ms") = if (est.isEmpty) 0.0 else median(est)
    }
  }

  /** olap_exact / corpus_dedup: registered ops by name from `SparkEntry`.
    * The first result of each op is written for the checker; every later
    * execution must return the same rows.
    */
  final class NamedOps(spark: SparkSession, in: Input, tracer: Tracer) extends Workload {
    private val ops = graft.SparkEntry.queries
    private val first = mutable.LinkedHashMap.empty[String, (Seq[String], Array[Row])]
    private val digests = mutable.HashMap.empty[String, Int]

    def setUp(setup: mutable.Map[String, Double]): Unit = {
      val t0 = System.nanoTime()
      in.warmup.foreach(n => ops(n)(spark, in.dataDir).collect())
      setup("warmup_ms") = msSince(t0)
    }

    def step(name: String): Seq[Rec] = {
      val fn = ops(name)
      val (rec, res) = runDf(tracer, name)(fn(spark, in.dataDir))
      res.foreach { case (df, rows) =>
        val digest = rows.toSeq.hashCode
        digests.get(name) match {
          case None =>
            digests(name) = digest
            first(name) = (df.columns.toSeq, rows)
            rec.fields("first") = JBool(true)
          case Some(d) =>
            rec.fields("same_as_first") = JBool(d == digest)
        }
      }
      Seq(rec)
    }

    override def afterTimed(): Unit = {
      val dir = Files.createDirectories(in.workDir.resolve("answers"))
      first.foreach { case (name, (cols, rows)) =>
        Files.write(dir.resolve(s"$name.json"), Json.render(Json.rows(cols, rows)).getBytes("UTF-8"))
      }
      val oracle = JObject(graft.SparkEntry.oracleSql.toList.sorted.map { case (n, q) => n -> JString(q) })
      Files.write(dir.resolve("oracle_sql.json"), Json.render(oracle).getBytes("UTF-8"))
      first.clear()
    }
  }

  /** Heap in use once garbage is gone. Spark frees broadcast blocks and
    * other context state from its cleaner thread only after a GC has
    * cleared their driver-side references, and what one cleanup releases
    * may need a further GC and cleanup: corpus_dedup's heap fell from 247
    * to 198 to 153 MB over three collections. So collect, let the cleaner
    * run, and collect again until two collections in a row free less than
    * 1 MB each (at most ten).
    */
  private def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    def collectedMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var mb = collectedMb()
    var still = 0
    var rounds = 0
    while (still < 2 && rounds < 10) {
      Thread.sleep(200)
      val next = collectedMb()
      still = if (mb - next < 1.0) still + 1 else 0
      mb = next
      rounds += 1
    }
    mb
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
