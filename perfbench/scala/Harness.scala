package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Graft, Profile, SparkEntry, Tables}
import graft.osm.{OsmEngine, OsmSynth}
import graft.streaming.EventStreams
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** JVM side of the benchmark. One process is one closed-loop client:
  * it builds its session through `Graft.session`, runs one workload for
  * the requested number of seconds in whole passes, makes one extra
  * untimed call per operation for the correctness check, and writes
  * every sample (and, when traced, every span and layer counter) to a
  * JSON file that `run.py` turns into metrics.
  *
  * Usage:
  *   Harness gen-osm <xml> <pbf> <nodes> <ways>
  *   Harness run --workload W --seed N --seconds S --trace 0|1
  *               --cores N --run-dir D --data D --out F
  *               [--faces a,b,c] [--osm-rows N]
  */
object Harness {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  // ---- configuration --------------------------------------------------

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, runDir: String,
                        data: String, out: String,
                        faces: Seq[String], osmRows: Long)

  private def parse(args: Seq[String]): Conf = {
    val m = args.grouped(2).collect { case Seq(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("run-dir"), m("data"),
      m("out"),
      m.get("faces").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      m.get("osm-rows").map(_.toLong).getOrElse(-1L))
  }

  def main(args: Array[String]): Unit = args.head match {
    case "gen-osm" =>
      val Array(xml, pbf, nodes, ways) = args.tail
      atomically(xml)(OsmSynth.generate(_, nodes.toInt, ways.toInt))
      atomically(pbf)(OsmSynth.generatePbf(_, nodes.toInt, ways.toInt))
    case "run" =>
      val c = parse(args.tail.toSeq)
      new Harness(c).run()
    case "count-gap" =>
      val Array(data, faces, cores) = args.tail
      countGap(data, faces.split(",").toSeq, cores.toInt)
  }

  /** Drive a DataFrame to its full result under its own QueryExecution:
    * every output column of the planned result is computed (nothing is
    * pruned the way `count()` prunes), and the executed plan keeps its
    * SQL metrics for [[Profile.metrics]]. Returns the row count. */
  def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.count())
  }

  /** Warm time of each face through `count()` against the same face
    * fully materialized: the median of three calls each, after one
    * warm-up call of each kind. Prints one JSON line per face. */
  private def countGap(data: String, faces: Seq[String], cores: Int): Unit = {
    val spark = Graft.session(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    def ms(f: => Any): Double = {
      val t = System.nanoTime(); f; spark.catalog.clearCache()
      (System.nanoTime() - t) / 1e6
    }
    faces.foreach { name =>
      val fn = SparkEntry.queries(name)
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      ms(fn(spark, data).count()); ms(materialize(fn(spark, data)))
      val counted = (1 to 3).map(_ => ms(fn(spark, data).count()))
      val full = (1 to 3).map(_ => ms(materialize(fn(spark, data))))
      println(json(Map("face" -> name, "count_ms" -> median(counted),
        "full_ms" -> median(full))))
    }
    spark.stop()
  }

  /** Write through a temp name and rename, so a killed run never leaves
    * a truncated file that a later run would take for finished. */
  def atomically(path: String)(write: String => Any): Unit =
    if (!new File(path).exists()) {
      val tmp = s"$path.tmp${ProcessHandle.current().pid()}"
      write(tmp)
      Files.move(Paths.get(tmp), Paths.get(path),
        StandardCopyOption.ATOMIC_MOVE)
    }

  def dirBytes(p: String): Long = {
    val f = Paths.get(p)
    if (!Files.exists(f)) 0L
    else {
      val s = Files.walk(f)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** Per-run Spark counters, read only by the traced run. */
final class Counters extends SparkListener {
  private val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val inferStart = mutable.Map.empty[Int, Long]

  private def add(k: String, v: Long): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    // parquet schema inference in Tables.load: its stage call site
    if (e.stageInfos.exists(_.name.contains("Tables.scala")))
      inferStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    inferStart.remove(e.jobId).foreach { t0 =>
      add("infer_jobs", 1); add("infer_ms", e.time - t0)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      add("stages", 1)
      val i = e.stageInfo
      if (i.numTasks == 1)
        for (s <- i.submissionTime; f <- i.completionTime)
          add("single_task_stage_ms", f - s)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snap(): Map[String, Long] = synchronized(c.toMap.withDefaultValue(0L))
}

final class Harness(c: Harness.Conf) {
  import Harness._

  private val t0Ns = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6

  // ---- session setup ---------------------------------------------------

  private var setupS = 0.0
  private val sessionMs = ArrayBuffer.empty[Double]

  private def newSession(): SparkSession = {
    val t = System.nanoTime()
    val s = Graft.session(s"local[${c.cores}]", c.cores)
    sessionMs += (System.nanoTime() - t) / 1e6
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The run's set-up time is timed from JVM start. A traced run sets
    * up twice more, stopping the previous session each time, so that
    * `Graft.session` has three samples; the run keeps the last session. */
  private val spark: SparkSession = {
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    var s = newSession()
    setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    if (c.trace) for (_ <- 1 to 2) {
      s.stop()
      s = newSession()
    }
    s
  }

  // JVM and engine warm-up, untimed: a small aggregation with a shuffle,
  // so the first timed call pays for its own plan, not for bootstrapping
  spark.range(0, 200000, 1, c.cores).selectExpr("id % 97 AS k", "id AS v")
    .groupBy("k").sum("v").collect()

  private val counters = new Counters
  if (c.trace) spark.sparkContext.addSparkListener(counters)

  private def drain(): Unit = if (c.trace) BusDrain.drain(spark.sparkContext)

  // ---- samples and spans ---------------------------------------------

  /** One timed operation: `cold` marks the first call of `op`, `warm` a
    * call that the warm figures are taken from, and `group` the unit of
    * repeated work it belongs to (a pass, or an osm Q1–Q5 battery). */
  final case class Sample(op: String, pass: Int, group: Int, cold: Boolean,
                          warm: Boolean, ms: Double, ok: Boolean, err: String)
  final case class Span(id: Int, name: String, start: Double, end: Double,
                        parent: Int, call: Int)

  private val samples = ArrayBuffer.empty[Sample]
  private val passes = ArrayBuffer.empty[(Int, Double)] // (pass, ms)
  private val spans = ArrayBuffer.empty[Span]
  /** Per-call layer values of the traced run. Rows of one `group` (a pass,
    * or an osm battery) are summed; `warm` rows give the warm median,
    * `cold` rows the cold-pass total. */
  final case class LayerRow(group: Int, warm: Boolean, cold: Boolean,
                            values: Map[String, Double])
  private val layerRows = ArrayBuffer.empty[LayerRow]
  private val answers = mutable.LinkedHashMap.empty[String, Any]
  private val details = mutable.LinkedHashMap.empty[String, Any]
  private var nextSpan = 0
  private var nextCall = 0

  private def span(name: String, start: Double, end: Double, parent: Int,
                   call: Int): Unit = {
    nextSpan += 1
    if (c.trace) spans += Span(nextSpan, name, start, end, parent, call)
  }

  private val seen = mutable.Set.empty[String]

  /** Time spent in operations that sit outside their pass's time. */
  private var outsidePassMs = 0.0

  /** Time `f` as operation `name`; an exception or a false result counts
    * as a failed operation. `f` gets the span id of the call. With
    * `inPass = false` its time is taken out of the pass it runs in. */
  private def op(name: String, pass: Int, warm: Boolean = false,
                 group: Int = -1, inPass: Boolean = true)
                (f: Int => Boolean): Unit = {
    nextCall += 1
    val call = nextCall
    val cold = seen.add(name)
    val t = nowMs
    val id = nextSpan + 1
    nextSpan += 1
    val (ok, err) =
      try (f(id), null)
      catch { case e: Throwable =>
        (false, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
      }
    val end = nowMs
    if (c.trace) spans += Span(id, name, t, end, 0, call)
    if (!inPass) outsidePassMs += end - t
    samples += Sample(name, pass, if (group < 0) pass else group, cold, warm,
      end - t, ok, err)
  }

  private def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => 1 + planNodes(a.executedPlan)
    case q: QueryStageExec => 1 + planNodes(q.plan)
    case _ => 1 + p.children.map(planNodes).sum
  }

  /** Whole passes until `seconds` have passed and at least `min` passes
    * ran; with `cold`, a first cold pass runs before the clock starts. */
  private def timedPasses(cold: Boolean, min: Int)(pass: Int => Unit): Unit = {
    var p = 0
    def timed(): Unit = {
      val t = nowMs
      val outside = outsidePassMs
      pass(p)
      passes += ((p, nowMs - t - (outsidePassMs - outside)))
      p += 1
    }
    if (cold) timed()
    val start = nowMs
    do timed() while (p < min || nowMs - start < c.seconds * 1000)
  }

  private def rng(salt: Long) = new scala.util.Random(c.seed * 1000003L + salt)

  // ---- staging (the program's /tmp artifacts) -------------------------

  private def stagingDirs(): Set[String] =
    Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(_.getPath).toSet

  // ---- workloads --------------------------------------------------------

  def run(): Unit =
    try c.workload match {
      case "osm_kolkata" => osm()
      case "faces_tail" => faces()
      case "stream_events" => stream()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      drain()
      write()
      spark.stop()
    }

  private def write(): Unit = {
    val layer: Map[String, Double] = layerTotals()
    val out = Map(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "cores" -> c.cores,
      "setup_s" -> setupS, "session_ms" -> sessionMs.toSeq,
      "samples" -> samples,
      "passes" -> passes.map { case (p, ms) => Map("pass" -> p, "ms" -> ms) },
      "layers" -> layer,
      "answers" -> answers, "details" -> details,
      "spans" -> spans)
    atomically(c.out)(p => Files.writeString(Paths.get(p), json(out)))
  }

  /** Per-layer values from the traced rows: times and counts summed
    * within a group, then the median over the warm groups; `cold:` keys
    * sum over the cold pass only. */
  private def layerTotals(): Map[String, Double] = {
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else {
        val s = xs.sorted
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      }
    val warm = layerRows.filter(_.warm).groupBy(_.group).values.map { rows =>
      rows.flatMap(_.values).groupMapReduce(_._1)(_._2)(_ + _)
    }.toSeq
    val keys = warm.flatMap(_.keys).distinct
    val warmMed = keys.map(k => k -> median(warm.map(_.getOrElse(k, 0.0))))
    val cold = layerRows.filter(_.cold).flatMap(_.values)
      .groupMapReduce(_._1)(_._2)(_ + _)
    (warmMed ++ cold.map { case (k, v) => s"cold:$k" -> v }).toMap ++
      extraLayers
  }

  private val extraLayers = mutable.Map.empty[String, Double]

  // ---- faces_tail -----------------------------------------------------

  // pass 0 is cold, and two more passes still run while the JIT compiles
  // what pass 0 touched (pass times 15.0, 3.2, 2.5, 2.2, 2.2 s): the warm
  // figures start at the first settled pass
  private val TailWarmFrom = 3

  private def faces(): Unit = {
    val names = c.faces
    require(names.nonEmpty, "no faces given")
    names.foreach(n => require(SparkEntry.queries.contains(n), s"no face $n"))
    val dir = c.data

    def call(name: String, pass: Int): Unit = {
      var row = Map.empty[String, Double]
      var stagingBefore = Set.empty[String]
      if (c.trace) stagingBefore = stagingDirs()
      op(name, pass, warm = pass >= TailWarmFrom) { id =>
        drain()
        val k0 = counters.snap()
        val t0 = nowMs
        val df = SparkEntry.queries(name)(spark, dir)
        val t1 = nowMs
        drain()
        val k1 = counters.snap()
        val t1b = nowMs
        val plan = df.queryExecution.executedPlan
        val t2 = nowMs
        drain()
        val t2b = nowMs
        materialize(df)
        val t3 = nowMs
        if (c.trace) {
          drain()
          val k3 = counters.snap()
          val call = nextCall
          span("construct", t0, t1, id, call)
          span("plan", t1b, t2, id, call)
          span("exec", t2b, t3, id, call)
          def d(k: String, a: Map[String, Long], b: Map[String, Long]) =
            (b(k) - a(k)).toDouble
          val metrics = Profile.metrics(df)
          val created = stagingDirs() -- stagingBefore
          row = Map(
            "face.construct_ms" -> (t1 - t0),
            "face.construct_jobs" -> d("jobs", k0, k1),
            "face.plan_ms" -> (t2 - t1b),
            "face.plan_nodes" -> planNodes(df.queryExecution.executedPlan)
              .toDouble,
            "face.exec_ms" -> (t3 - t2b),
            "face.jobs" -> d("jobs", k0, k3),
            "face.stages" -> d("stages", k0, k3),
            "face.tasks" -> d("tasks", k0, k3),
            "face.single_task_stage_ms" ->
              d("single_task_stage_ms", k0, k3),
            "face.shuffle_write_bytes" -> metrics
              .filter(_.metric == "shuffleBytesWritten")
              .map(_.value).sum.toDouble,
            "face.spill_bytes" -> d("spill_bytes", k0, k3),
            "face.scan_rows" -> metrics
              .filter(m => m.metric == "numOutputRows" &&
                m.operator.contains("Scan")).map(_.value).sum.toDouble,
            "tables.infer_jobs" -> d("infer_jobs", k0, k3),
            "tables.infer_ms" -> d("infer_ms", k0, k3),
            "staging.builds" -> created.toSeq
              .count(p => new File(s"$p/_built").exists()).toDouble,
            "staging.bytes" -> created.toSeq.map(dirBytes).sum.toDouble)
        }
        plan != null
      }
      spark.catalog.clearCache()
      if (c.trace)
        layerRows += LayerRow(pass, pass >= TailWarmFrom, pass == 0, row)
    }

    // pass 0 is the cold pass over the fresh dataset copy; the run's
    // seed orders the calls of every pass
    timedPasses(cold = true, min = 4) { p =>
      rng(p).shuffle(names).foreach(call(_, p))
    }
    if (c.trace) {
      val warm = samples.filter(s => !s.cold && s.ok)
        .groupMapReduce(_.op)(s => Seq(s.ms))(_ ++ _)
      val coldMs = samples.filter(_.cold).map(s => s.op -> s.ms).toMap
      extraLayers("face.cold_extra_ms") = names.map { n =>
        val w = warm.getOrElse(n, Seq(0.0)).sorted
        coldMs.getOrElse(n, 0.0) - w(w.length / 2)
      }.sum
    }

    // correctness: one extra untimed call per face, written for the
    // DuckDB oracle comparison
    val resDir = s"${c.runDir}/results"
    names.foreach { n =>
      SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$resDir/$n")
      spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$resDir/oracle_sql.json"), json(oracle))
    details("results_dir") = resDir
  }

  // ---- osm_kolkata ----------------------------------------------------

  private val Batteries = 5

  private def osm(): Unit = {
    val xml = c.data
    val pbf = s"$xml.pbf"
    val jsonOut = s"${c.runDir}/osm_json"
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "q1" -> OsmEngine.q1UniqueUsers, "q2" -> OsmEngine.q2TypeCounts,
      "q3" -> OsmEngine.q3Amenities, "q4" -> (OsmEngine.q4TopShops(_)),
      "q5" -> (OsmEngine.q5TopHighways(_)))
    def collect(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    def jobsDelta[A](f: => A): (A, Map[String, Long]) = {
      drain(); val a = counters.snap()
      val r = f
      drain(); val b = counters.snap()
      (r, b.keySet.map(k => k -> (b(k) - a(k))).toMap.withDefaultValue(0L))
    }

    // a round is the whole pipeline: audits, reshape, the PBF twin and
    // the Q1–Q5 battery; the run makes whole rounds only
    timedPasses(cold = false, min = 1) { r =>
      op("census", r) { _ =>
        answers("census") = collect(OsmEngine.auditTags(spark, xml)); true }
      // the audits share one cached parse (OsmEngine's own design): the
      // first audit pays the decode
      val elems = OsmEngine.elements(spark, xml).cache()
      op("audit_keys", r) { _ =>
        answers("keys") = collect(OsmEngine.auditKeys(elems)); true }
      op("audit_users", r) { _ =>
        answers("users") = collect(OsmEngine.auditUsers(elems)); true }
      op("audit_streets", r) { _ =>
        answers("streets") = collect(OsmEngine.auditStreetTypes(elems)); true }
      op("audit_postcodes", r) { _ =>
        answers("postcodes") = collect(OsmEngine.auditPostcodes(elems)); true }
      elems.unpersist(blocking = true)

      var shaped: DataFrame = null
      op("reshape", r) { _ =>
        shaped = OsmEngine.reshapeToJson(spark, xml, jsonOut); true }
      if (c.trace) {
        // reshape split into its layers, each measured on its own after
        // the timed call: the sink writes the cached result again, the
        // decode and the shape (self time over the decode) run alone
        val sinkOut = s"${c.runDir}/osm_json_sink"
        val ts = nowMs
        shaped.write.mode("overwrite").json(sinkOut)
        extraLayers("osm.sink_ms") = nowMs - ts
        span("osm.sink", ts, nowMs, 0, nextCall)
        extraLayers("osm.sink_bytes") = dirBytes(sinkOut).toDouble
        val (rows, k) = jobsDelta {
          val t = nowMs
          val n = materialize(OsmEngine.elements(spark, xml))
          extraLayers("osm.decode_ms") = nowMs - t
          span("osm.decode", t, nowMs, 0, nextCall)
          n
        }
        extraLayers("osm.decode_tasks") = k("tasks").toDouble
        extraLayers("osm.decode_rows") = rows.toDouble
        val t = nowMs
        materialize(OsmEngine.shape(OsmEngine.elements(spark, xml)))
        extraLayers("osm.shape_ms") = nowMs - t - extraLayers("osm.decode_ms")
        span("osm.shape", t, nowMs, 0, nextCall)
      }

      // the known fault: its time is kept out of the round's pass time
      op("pbf_elements", r, inPass = false) { _ =>
        val t = nowMs
        val n = materialize(OsmEngine.elements(spark, pbf))
        extraLayers("osm.pbf_decode_ms") = nowMs - t
        n == c.osmRows
      }

      for (b <- 0 until Batteries) {
        val (_, k) = jobsDelta {
          rng(r * 100 + b).shuffle(queries).foreach { case (name, q) =>
            op(name, r, warm = b > 0, group = r * Batteries + b) { _ =>
              answers(name) = collect(q(shaped)); true }
          }
        }
        if (c.trace && b > 0) layerRows += LayerRow(r * Batteries + b, true, false,
          Map("osm.query_jobs" -> k("jobs").toDouble,
            "osm.query_tasks" -> k("tasks").toDouble))
      }
      shaped.unpersist(blocking = true)
    }
    details("osm_json") = jsonOut
  }

  // ---- stream_events --------------------------------------------------

  // pass 1 is already within a few percent of pass 2 (12.2, 6.8, 6.3 s)
  private val StreamWarmFrom = 1

  private val EventSlice = 4000
  private val DocSlice = 300
  private val Batches = 3

  private def stream(): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ck = s"${c.runDir}/checkpoints"
    val outDir = s"${c.runDir}/stream_out"
    val k0 = { drain(); counters.snap() }

    // inputs: a seeded window of the events in (ts, event_id) order and
    // a seeded window of the documents in doc_id order
    val evAll = Tables.events(spark, c.data)
      .select(col("event_id"), expr("unix_micros(ts)").as("us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("us"), col("event_id")).collect()
    val evOff = rng(1).nextInt(evAll.length - EventSlice + 1)
    val events = evAll.slice(evOff, evOff + EventSlice).toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val docAll = Tables.documents(spark, c.data)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy(col("doc_id")).collect()
    val docOff = rng(2).nextInt(docAll.length - DocSlice + 1)
    val docs = docAll.slice(docOff, docOff + DocSlice).toSeq.map(r =>
      (r.getLong(0), r.getString(1), r.getString(2)))
    details("event_offset") = evOff
    details("doc_offset") = docOff
    if (c.trace) {
      drain(); val k1 = counters.snap()
      extraLayers("tables.infer_jobs") = (k1("infer_jobs") - k0("infer_jobs")).toDouble
      extraLayers("tables.infer_ms") = (k1("infer_ms") - k0("infer_ms")).toDouble
    }

    val rocks = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

    var faceN = 0
    /** memory-sink views of the latest pass: (face, view) */
    val views = ArrayBuffer.empty[(String, String)]
    def face[T](name: String, pass: Int, rows: Seq[T], mode: String,
                rocksDb: Boolean)
               (build: MemoryStream[T] => DataFrame)
               (implicit enc: org.apache.spark.sql.Encoder[T]): Unit = {
      faceN += 1
      val view = s"pb_$faceN"
      val prior = rocks.map { case (k, _) => k -> spark.conf.getOption(k) }
      if (rocksDb) rocks.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val mem = MemoryStream[T]
        val tStart = nowMs
        val q = build(mem).writeStream.outputMode(mode)
          .option("checkpointLocation", s"$ck/$view")
          .format("memory").queryName(view).start()
        span(s"$name.start", tStart, nowMs, 0, nextCall)
        views += name -> view
        try {
          val grain = (rows.length + Batches - 1) / Batches
          rows.grouped(grain).foreach { chunk =>
            op(name, pass, warm = pass >= StreamWarmFrom) { _ =>
              mem.addData(chunk: _*); q.processAllAvailable(); true }
          }
          if (c.trace) {
            val progress = q.recentProgress.filter(_.numInputRows > 0)
            progress.foreach { p =>
              def dur(k: String): Double =
                Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
              layerRows += LayerRow(pass, pass >= StreamWarmFrom,
                pass == 0, Map(
                "stream.add_batch_ms" -> dur("addBatch"),
                "stream.query_planning_ms" -> dur("queryPlanning"),
                "stream.wal_commit_ms" -> dur("walCommit"),
                "stream.state_commit_ms" ->
                  p.stateOperators.map(_.commitTimeMs.toDouble).sum))
            }
            progress.lastOption.foreach { p =>
              layerRows += LayerRow(pass, pass >= StreamWarmFrom,
                pass == 0, Map(
                "stream.state_rows" ->
                  p.stateOperators.map(_.numRowsTotal.toDouble).sum,
                "stream.state_memory_bytes" ->
                  p.stateOperators.map(_.memoryUsedBytes.toDouble).sum))
            }
          }
        } finally q.stop()
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    def eventDf(m: MemoryStream[(Long, Long, Long, String, Double)]) =
      m.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val sess = events.map { case (_, us, u, et, _) => (u, us / 1000, et) }
    val ndDocs = docs.map { case (id, _, t) => (id, t) }

    // each pass feeds every face afresh (new query, new checkpoint) in
    // the same fixed micro-batches; the sinks of a pass stay readable
    // until the next pass starts
    timedPasses(cold = true, min = 2) { p =>
      views.foreach { case (_, v) => spark.catalog.dropTempView(v) }
      views.clear()
      face("stream_preprocess", p, docs, "append", false)(m =>
        EventStreams.preprocessStream(m.toDF().toDF("doc_id", "lang", "text")))
      face("stream_hourly", p, events, "update", false)(m =>
        EventStreams.hourlyTypeCounts(eventDf(m)))
      face("stream_dedup", p, events, "append", false)(m =>
        EventStreams.dedupStream(eventDf(m)))
      face("stream_sessionize", p, sess, "append", true)(m =>
        EventStreams.sessionize(m.toDS().map { case (u, ms, et) =>
          EventStreams.SessionEvent(u, new java.sql.Timestamp(ms), et)
        }, gapMs = 600000L).toDF())
      face("stream_neardup", p, ndDocs, "append", true)(m =>
        EventStreams.nearDupStream(spark, m.toDF().toDF("doc_id", "text")).toDF())
    }
    // correctness: the last pass's sinks, written out untimed
    views.foreach { case (name, v) =>
      spark.table(v).write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.dropTempView(v)
    }
    details("stream_out") = outDir
    details("event_rows") = events.length
    details("doc_rows") = docs.length
  }
}
