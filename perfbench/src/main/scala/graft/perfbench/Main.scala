package graft.perfbench

import graft.core.GraftSession
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark process: one workload on `local[cores]` with one client
  * thread, or, with `--trace 1`, the traced pass over all four. Prints
  * one line `PERFBENCH_RESULT <json>` with raw samples, spans and
  * checks; `run.py` turns it into metrics.
  *
  * Usage: `Main --workload <lifecycle|curation|stream|serve> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--csv <owners.csv>
  *   --owners-rows <n> --owners-nameless <n>] [--min-steps n]
  *   [--min-requests n]`
  */
object Main {
  val Workloads = Seq("lifecycle", "curation", "stream", "serve")
  // input sizes: small enough that one run takes about a minute on a
  // 4-core host, large enough that every operator does real work
  val Docs = 2000L
  val BatchRows = 100
  val WarmBatches = 2
  /** Cheap set-up steps run this often; the report takes their median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, csv: String, ownersRows: Long, nameless: Long,
                        minSteps: Int, minRequests: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String): String = m.getOrElse(k, d)
    val o = Opts(get("workload", ""), get("seed", "1").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("work", ""), get("csv", ""),
      get("owners-rows", "0").toLong, get("owners-nameless", "0").toLong,
      get("min-steps", "0").toInt, get("min-requests", "0").toInt)
    require(Workloads.contains(o.workload), s"--workload must be one of ${Workloads.mkString("|")}")
    require(o.work.nonEmpty, "--work is required")
    require(o.trace || Seq("curation", "stream").contains(o.workload) ||
      (o.csv.nonEmpty && o.ownersRows > 0), "--csv and --owners-rows are required")
    o
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val (spark, sessionS) = Timed {
      val s = GraftSession.builder("perfbench", GraftSession.defaultCores)
        .config("spark.local.dir", s"${o.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    try {
      val body = if (o.trace) traced(spark, o) else untraced(spark, o)
      val fields = Seq(
        "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
        "cores" -> GraftSession.defaultCores, "session_s" -> sessionS,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "peak_heap_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0) ++ body
      println("PERFBENCH_RESULT " + Json.obj(fields: _*))
    } finally spark.stop()
  }

  /** One operation: its sample, or None if it threw. */
  private def attempt(op: => Sample): Option[Sample] =
    scala.util.Try(op) match {
      case scala.util.Success(s) => Some(s)
      case scala.util.Failure(e) =>
        System.err.println(s"perfbench: operation failed: $e")
        None
    }

  /** Runs `unit` until the deadline has passed and `minOps` operations
    * were attempted. A unit is one or more operations, each with its
    * outcome; a unit that throws as a whole counts as one failed
    * operation. The loop goes on after failures.
    */
  private def loop(seconds: Double, minOps: Int)(unit: => Seq[Option[Sample]])
      : (Seq[Sample], Int) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[Sample]
    var n = 0
    var failed = 0
    while (n == 0 || n < minOps || System.nanoTime() < deadline) {
      val outcomes = scala.util.Try(unit) match {
        case scala.util.Success(o) => o
        case scala.util.Failure(e) =>
          System.err.println(s"perfbench: operation failed: $e")
          Seq(None)
      }
      n += outcomes.size
      failed += outcomes.count(_.isEmpty)
      out ++= outcomes.flatten
    }
    (out.result(), failed)
  }

  /** Set-up, warm-up, then the timed loop of one workload. */
  private def untraced(spark: SparkSession, o: Opts): Seq[(String, Any)] = {
    val env = new Env(spark, new Tracer(spark, enabled = false), o.work, o.seed)
    val lifecycle = new Lifecycle(env, o.csv, o.ownersRows, o.nameless)
    def reps(body: => Unit): Seq[Double] = (1 to SetupReps).map(_ => Timed(body)._2)
    val (prepareS, warmupS, (samples, failed), checks) = o.workload match {
      case "lifecycle" =>
        val (first, w) = Timed(lifecycle.run(lifecycle.lake("warmup")))
        heapPools.foreach(_.resetPeakUsage())
        var last = (first, "")
        var i = 0
        val samples = loop(o.seconds, 1) {
          val lake = lifecycle.lake(s"rep${i % 2}")
          i += 1
          val (r, s) = Timed(lifecycle.run(lake))
          last = (r, lake)
          Seq(Some(Sample("run", s, o.ownersRows)))
        }
        val same = lifecycle.digests(s"${o.work}/lifecycle/warmup") ==
          lifecycle.digests(last._2)
        (Seq.empty[Double], w, samples, lifecycle.checks(last._1, last._2) :+
          Check("lifecycle.digest_repeats", same, s"warm-up vs last run: $same"))
      case "curation" =>
        val cur = new CurationPipeline(env, Docs)
        val prep = reps(cur.prepare())
        val (_, w) = Timed(cur.run(s"${o.work}/curation/warmup"))
        heapPools.foreach(_.resetPeakUsage())
        val root = s"${o.work}/curation/published"
        var version = ""
        val samples = loop(o.seconds, 1) {
          val (v, s) = Timed(cur.run(root))
          version = v
          Seq(Some(Sample("run", s, Docs)))
        }
        (prep, w, samples, cur.checks(root, version))
      case "stream" =>
        val st = new StreamRun(env, BatchRows)
        val prep = reps(st.prepare())
        val root = s"${o.work}/stream/stores"
        // warm-up: centroids, then the first two batches; the merge and
        // the expiry of the later batches first run in the timed sequence
        val (warm, w) = Timed { st.train(); st.sequence(root, WarmBatches) }
        heapPools.foreach(_.resetPeakUsage())
        val digests = Seq.newBuilder[String]
        digests += st.decisionDigest(warm, WarmBatches)
        var last = warm
        val samples = loop(o.seconds, o.minSteps) {
          last = st.sequence(root)
          digests += st.decisionDigest(last, WarmBatches)
          last.map(s => Some(Sample(s.store, s.wallS, BatchRows)))
        }
        (prep, w, samples, st.checks(last, digests.result()))
      case "serve" =>
        val sv = new ServeLoop(env)
        val (_, prepS) = Timed {
          val lake = lifecycle.lake("serve")
          sv.prepare(lake, lifecycle.runFull(lake), lifecycle.DateId)
        }
        // warm-up: one request of each kind
        val (_, w) = Timed(sv.blocks(o.seed + 1).next().groupBy(_.kind)
          .values.map(_.head).foreach(q => sv.verify(q, sv.serve(q)._1)))
        val blocks = sv.blocks(o.seed)
        heapPools.foreach(_.resetPeakUsage())
        val samples = loop(o.seconds, o.minRequests) {
          blocks.next().map { q =>
            attempt {
              val (got, s) = sv.serve(q)
              sv.verify(q, got)
              Sample(q.kind, s, got.size)
            }
          }
        }
        (Seq(prepS), w, samples, Seq(sv.check))
    }
    Seq(
      "setup" -> Json.Raw(Json.obj("prepare_s" -> prepareS, "warmup_s" -> warmupS)),
      "samples" -> samples.map(s => Json.Raw(s.toJson)),
      "attempted" -> (samples.size + failed), "failed" -> failed,
      "checks" -> checks.map(c => Json.Raw(c.toJson)),
      "inputs" -> Map("owners_rows" -> o.ownersRows, "documents" -> Docs,
        "batches" -> StreamRun.EventMinutes.size, "batch_rows" -> BatchRows))
  }

  /** The traced pass: every workload runs once traced, so every span
    * row exists. The named workload then runs once untraced and once
    * more traced: its span rows come from that warm second repetition,
    * its job counts must repeat across the two, and the untraced run
    * gives the tracing overhead. An untraced `runFull` always runs after
    * the first traced lifecycle replay: the replay must leave the same
    * outputs, and serve reads its lake, as in the untraced serve set-up.
    */
  private def traced(spark: SparkSession, o: Opts): Seq[(String, Any)] = {
    val tracer = new Tracer(spark, enabled = true)
    val quiet = new Env(spark, new Tracer(spark, enabled = false), o.work, o.seed)
    val env = new Env(spark, tracer, o.work, o.seed)
    val named = o.workload
    val untracedS = scala.collection.mutable.Map.empty[String, Double]
    val checks = Seq.newBuilder[Check]
    var attempted = 0
    // traced run, untraced run, then (named workload only) traced again
    def reps[T, U](w: String)(tracedRun: Int => T)(untracedRun: => U): (T, Option[U]) = {
      val first = tracedRun(0)
      attempted += 1
      if (w != named) (first, None)
      else {
        val (u, s) = Timed(untracedRun)
        untracedS(w) = s
        attempted += 2
        (tracedRun(1), Some(u))
      }
    }

    val lifeQ = new Lifecycle(quiet, o.csv, o.ownersRows, o.nameless)
    val life = new Lifecycle(env, o.csv, o.ownersRows, o.nameless)
    val first = life.lake("traced0")
    val firstResult = life.replay(first)
    val fullLake = lifeQ.lake("untraced")
    val (fullResult, fullS) = Timed(lifeQ.run(fullLake))
    attempted += 2
    val (lake, result) =
      if (named != "lifecycle") (first, firstResult)
      else {
        untracedS("lifecycle") = fullS
        attempted += 1
        val l = life.lake("traced1")
        (l, life.replay(l))
      }
    val want = lifeQ.digests(fullLake)
    val replays = (Seq(first) :+ lake).distinct
    val same = replays.forall(l => life.digests(l) == want)
    checks += Check("lifecycle.replay_digests_match", same,
      s"${replays.size} traced replays vs runFull: $same")
    checks ++= life.checks(result, lake)

    val svQ = new ServeLoop(quiet)
    svQ.prepare(fullLake, fullResult, lifeQ.DateId)
    val sv = new ServeLoop(env)
    sv.adopt(svQ)
    val block = svQ.blocks(o.seed).next()
    // responses are compared after the traced root span closes
    val responses = Seq.newBuilder[(ServeLoop.Request, Seq[org.apache.spark.sql.Row])]
    reps("serve") { _ =>
      responses ++= env.span("serve")(block.map(q => q -> sv.serve(q)._1))
    } {
      responses ++= block.map(q => q -> svQ.serve(q)._1)
    }
    responses.result().foreach { case (q, got) => sv.verify(q, got) }
    checks += sv.check

    val curQ = new CurationPipeline(quiet, Docs)
    val cur = new CurationPipeline(env, Docs)
    curQ.prepare()
    val ((root, version), _) = reps("curation") { rep =>
      val root = s"${o.work}/curation/traced$rep"
      (root, cur.run(root))
    } {
      curQ.run(s"${o.work}/curation/untraced")
    }
    checks ++= cur.checks(root, version)

    val stQ = new StreamRun(quiet, BatchRows)
    val st = new StreamRun(env, BatchRows)
    stQ.prepare()
    stQ.train()
    st.shareInputs(stQ)
    val sequences = Seq.newBuilder[Seq[StreamRun.Step]]
    var storeRoot = ""
    val (last, _) = reps("stream") { rep =>
      storeRoot = s"${o.work}/stream/traced$rep"
      val steps = st.sequence(storeRoot)
      sequences += steps
      steps
    } {
      sequences += stQ.sequence(s"${o.work}/stream/untraced")
    }
    checks ++= st.checks(last, sequences.result().map(st.decisionDigest(_)))

    Seq(
      "untraced_wall_s" -> untracedS.toMap,
      "spans" -> tracer.finish().map(s => Json.Raw(s.toJson)),
      "counts" -> st.storeCounts(last, storeRoot),
      "attempted" -> attempted, "failed" -> 0,
      "checks" -> checks.result().map(c => Json.Raw(c.toJson)),
      "inputs" -> Map("owners_rows" -> o.ownersRows, "documents" -> Docs,
        "batches" -> st.batches, "batch_rows" -> BatchRows,
        "serve_requests" -> block.size))
  }
}
