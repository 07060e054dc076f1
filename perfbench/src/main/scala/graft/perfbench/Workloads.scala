package graft.perfbench

import graft.Pipeline
import graft.analytics.{Demographics, Report}
import graft.ingest.Ingestion
import graft.lake.{LakeStorage, VersionedTable}
import graft.operators.Packing
import graft.serve.QueryService
import graft.stream.Streaming
import graft.textops.{Curation, Similarity, TextAnalysis, TextFunctions}
import graft.warehouse.StarSchema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One correctness verdict. */
final case class Check(name: String, ok: Boolean, detail: String) {
  def toJson: String = Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** One timed operation of the untraced loop. */
final case class Sample(kind: String, wallS: Double, rows: Long) {
  def toJson: String = Json.obj("kind" -> kind, "wall_s" -> wallS, "rows" -> rows)
}

/** What every workload shares: the session, the tracer, a work
  * directory inside the checkout, and the seed.
  */
final class Env(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Traced runs cut the lazy plan at each span boundary, so each
    * layer's work lands in its own span; untraced runs keep the plan
    * whole. The difference shows as tracing overhead.
    */
  def cut(df: DataFrame): DataFrame = if (tracer.enabled) df.localCheckpoint() else df

  def fs: org.apache.hadoop.fs.FileSystem =
    new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def clear(path: String): String = { fs.delete(new Path(path), true); path }

  def bytesUnder(path: String): Long = {
    val p = new Path(path)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Order-independent content digest: row count and a sum of row hashes. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }
}

object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** `lifecycle`: `Pipeline.runFull` over the generated business-owners
  * CSV, then every `Result.warehouse` table written as parquet under
  * the lake (what the reference's load leaves in its database).
  * `nameless` input rows carry no owner name and no legal entity, so
  * they have no owner to load: the ownership fact holds the rest.
  */
final class Lifecycle(env: Env, csv: String, val rows: Long, nameless: Long) {
  import env.spark
  val DateId = "2024-01-01"
  private val partition = DateId.replace("-", "")

  def lake(tag: String): String = env.clear(s"${env.work}/lifecycle/$tag")

  private def persist(r: Pipeline.Result, lake: String): Unit =
    r.warehouse.toSeq.sortBy(_._1).foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$lake/warehouse/$n")
    }

  def runFull(lake: String): Pipeline.Result = Pipeline.runFull(spark, csv, lake, DateId)

  /** The untraced operation. */
  def run(lake: String): Pipeline.Result = {
    val r = runFull(lake)
    persist(r, lake)
    r
  }

  /** The traced operation: `runFull`'s body, call for call, with a span
    * around each stage. Output digests must equal [[run]]'s.
    */
  def replay(lake: String): Pipeline.Result = env.span("lifecycle") {
    val raw = env.span("lifecycle.ingest.clean_write") {
      val raw = Ingestion.readCsv(spark, csv).cache()
      LakeStorage.write(Ingestion.clean(raw), lake, "processed",
        "business_owners", partition)
      raw
    }
    val qualityPath = s"$lake/analytics/quality_report"
    try env.span("lifecycle.ingest.quality") {
      Ingestion.qualityProfile(raw).coalesce(1).write.mode("overwrite").json(qualityPath)
    } finally raw.unpersist()
    val cleaned = env.span("lifecycle.analytics.report") {
      val cleaned = LakeStorage
        .readLatest(spark, lake, "processed", "business_owners").drop("date")
      Report.writeJson(Report.comprehensiveReport(cleaned), s"$lake/analytics/demographics")
      cleaned
    }
    val aggs = env.span("lifecycle.analytics.aggregated") {
      val ownership = cleaned.groupBy("Account Number").agg(
        first(col("Legal Name")).as("Legal Name"),
        sort_array(collect_list(col("Owner Full Name"))).as("owner_names"),
        sort_array(collect_list(col("Title"))).as("titles"),
        max(col("Is Individual Owner")).as("any_individual_owner"),
        first(col("Has Multiple Owners")).as("has_multiple_owners"))
      val aggs = Map(
        "ownership_summary" -> ownership,
        "role_distribution" -> Demographics.frequencyTable(cleaned, "Title"),
        "name_distribution" -> Demographics.frequencyTable(
          cleaned.filter(col("Is Individual Owner")), "Owner First Name"))
      aggs.foreach { case (name, df) =>
        LakeStorage.write(df, lake, "aggregated", name, partition)
      }
      aggs
    }
    val wh = env.span("lifecycle.warehouse.load") {
      val wh = StarSchema.loadAll(spark, cleaned, DateId)
      StarSchema.registerViews(spark, wh, loadTs = s"$DateId 00:00:00")
      wh
    }
    val passed = env.span("lifecycle.warehouse.integrity") {
      wh("integrity").collect().head.getAs[Boolean]("passed")
    }
    val r = Pipeline.Result(cleaned, wh, aggs, Map.empty, passed)
    env.span("lifecycle.warehouse.persist")(persist(r, lake))
    r
  }

  private def outputs(lake: String): Seq[(String, DataFrame)] = {
    val pq = Seq("processed/business_owners") ++
      Seq("ownership_summary", "role_distribution", "name_distribution")
        .map(n => s"aggregated/$n") ++
      env.fs.listStatus(new Path(s"$lake/warehouse")).map(_.getPath.getName)
        .sorted.map(n => s"warehouse/$n")
    pq.map(p => p -> spark.read.parquet(s"$lake/$p")) ++
      Seq("analytics/quality_report", "analytics/demographics")
        .map(p => p -> spark.read.json(s"$lake/$p"))
  }

  /** Digest of every table the lifecycle leaves in the lake. */
  def digests(lake: String): Map[String, String] =
    outputs(lake).map { case (n, df) => n -> env.digest(df) }.toMap

  def checks(r: Pipeline.Result, lake: String): Seq[Check] = {
    val processed = spark.read.parquet(s"$lake/processed/business_owners").count()
    val fact = spark.read.parquet(s"$lake/warehouse/fact_business_ownership").count()
    val quality = spark.read.json(s"$lake/analytics/quality_report")
      .head().getAs[Long]("total_records")
    val roles = spark.read.parquet(s"$lake/aggregated/role_distribution")
      .agg(sum("cnt")).head().getLong(0)
    Seq(
      Check("lifecycle.integrity_passed", r.integrityPassed, s"${r.integrityPassed}"),
      Check("lifecycle.processed_rows", processed == rows, s"$processed of $rows"),
      Check("lifecycle.fact_rows", fact == rows - nameless,
        s"$fact of $rows rows with $nameless nameless"),
      Check("lifecycle.quality_total", quality == rows, s"$quality of $rows"),
      Check("lifecycle.role_counts_sum", roles == rows, s"$roles of $rows"))
  }
}

/** `curation`: the README pipeline on a `documents` table — quality
  * score → quality-aware near-dedup → curate → cluster-safe split →
  * token stats + greedy packing → versioned publish.
  */
final class CurationPipeline(env: Env, val docs: Long) {
  import env.spark
  val MinQuality = 7.0
  val Budget = 2048L
  private lazy val path = s"${env.work}/curation/documents"

  def prepare(): Unit =
    Inputs.documents(spark, env.seed, 0L, docs, twinPct = 12, twinWindow = 40)
      .write.mode("overwrite").parquet(env.clear(path))

  /** One whole pipeline run, publishing a fresh versioned table at `root`. */
  def run(root: String): String = env.span("curation") {
    val input = spark.read.parquet(path)
    val nearDeduped = env.span("curation.textops.near_dedup") {
      env.cut(Curation.dropNearDuplicatesBy(
        TextAnalysis.qualityScore(input, "text"), "doc_id", "text",
        priorityCol = "quality_score"))
    }
    val curated = env.span("curation.textops.curate") {
      env.cut(Curation.curate(nearDeduped, "doc_id", "text",
        minQuality = MinQuality, keepLangs = Seq("en")))
    }
    val split = env.span("curation.textops.split") {
      env.cut(Curation.clusterSafeSplit(curated, "doc_id", "text", testPct = 10))
    }
    val packed = env.span("curation.operators.pack") {
      env.cut(Packing.packGreedy(TextAnalysis.tokenStats(split, "text"),
        "split", "doc_id", "n_ws_tokens", budget = Budget))
    }
    env.span("curation.lake.publish") {
      VersionedTable.publish(
        split.join(packed.select("doc_id", "pack_seq"), Seq("doc_id")),
        env.clear(root))
    }
  }

  def published(root: String): DataFrame = VersionedTable.readCurrent(spark, root)

  def checks(root: String, version: String): Seq[Check] = {
    val current = VersionedTable.currentVersion(spark, root)
    val pub = published(root).cache()
    try {
      val kept = pub.count()
      val ids = pub.select("doc_id").distinct().count()
      val straddling = pub.groupBy("split_key").agg(countDistinct("split").as("n"))
        .filter(col("n") > 1).count()
      val overfull = pub
        .withColumn("toks", size(TextFunctions.tokens(col("text"))))
        .groupBy("split", "pack_seq")
        .agg(sum("toks").as("t"), count(lit(1)).as("n"))
        .filter(col("t") > Budget && col("n") > 1).count()
      Seq(
        Check("curation.kept_between", kept > 0 && kept < docs, s"$kept of $docs"),
        Check("curation.splits_disjoint", ids == kept, s"$ids distinct ids, $kept rows"),
        Check("curation.cluster_safe", straddling == 0, s"$straddling clusters straddle"),
        Check("curation.packs_within_budget", overfull == 0, s"$overfull packs over $Budget"),
        Check("curation.publish_reads_back", current.contains(version),
          s"current ${current.getOrElse("none")}, published $version"))
    } finally pub.unpersist()
  }
}

object StreamRun {
  /** Event time of each batch, in minutes: three batches 10 minutes
    * apart, then one after a 30-minute quiet gap.
    */
  val EventMinutes = Seq(0, 10, 20, 50)
  val RetentionMinutes = 20

  /** A pending segment after a step: its name and expiry stamp (ms). */
  type Segment = (String, Long)

  /** Outcome of one store step: the ids it admitted and the store's
    * pending segments afterwards.
    */
  final case class Step(store: String, batch: Int, wallS: Double, admitted: Seq[Long],
                        live: Seq[Segment])
}

/** `stream`: seeded micro-batches through the three segment-mode
  * retention stores (`pruneEvery = 0`, `maxSegments = 1`), a 20-minute
  * retention over the event times of [[StreamRun.EventMinutes]]. The
  * first batch publishes each store's base; the second appends a
  * segment; the third appends one more, so the two are merged (L1); the
  * fourth comes after the gap, so the merged segment falls behind its
  * horizon and is vacuumed. A share of each batch re-delivers
  * near-copies of earlier rows, so the stores drop rows.
  */
final class StreamRun(env: Env, val batchRows: Int) {
  import env.spark
  import StreamRun._
  val batches: Int = EventMinutes.size
  val Retention = s"$RetentionMinutes minutes"
  val MaxSegments = 1
  val Stores = Seq("near_dedup", "novelty", "semdedup")
  private val T0 = 1704067200L
  private lazy val docsPath = s"${env.work}/stream/docs"
  private lazy val embPath = s"${env.work}/stream/embeddings"
  private var centroids: DataFrame = _

  /** Use `other`'s inputs and centroids instead of preparing new ones. */
  def shareInputs(other: StreamRun): Unit = centroids = other.centroids

  private def withBatch(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("batch", (col(idCol) / batchRows).cast("int"))
      .withColumn("ts", timestamp_seconds(lit(T0) +
        element_at(typedLit(EventMinutes.map(_ * 60L)), col("batch") + 1)))

  def prepare(): Unit = {
    val n = batches.toLong * batchRows
    withBatch(Inputs.documents(spark, env.seed, 0L, n, twinPct = 15,
      twinWindow = batchRows.toLong), "doc_id")
      .select("doc_id", "text", "ts", "batch")
      .write.mode("overwrite").partitionBy("batch").parquet(env.clear(docsPath))
    withBatch(Inputs.embeddings(spark, env.seed, 0L, n, twinPct = 15,
      twinWindow = batchRows.toLong), "vec_id")
      .select("vec_id", "embedding", "ts", "batch")
      .write.mode("overwrite").partitionBy("batch").parquet(env.clear(embPath))
  }

  /** Train the semantic-dedup centroids, on a separate seeded sample. */
  def train(): Unit = {
    val sample = Inputs.embeddings(spark, env.seed + 1, 0L, 1000L, 0, 1L)
    centroids = Similarity.trainCentroids(sample, "vec_id", "embedding", k = 8, iters = 2)
      .cache()
    centroids.count()
  }

  private def batch(path: String, b: Int): DataFrame =
    spark.read.parquet(path).where(col("batch") === b).drop("batch")

  /** Run one store step and decide it: the survivors' ids, collected. */
  def step(store: String, b: Int, root: String): Seq[Long] = store match {
    case "near_dedup" =>
      ids(Streaming.nearDedupBatchStep(batch(docsPath, b), "doc_id", "text", "ts",
        s"$root/near_dedup", retention = Retention, pruneEvery = 0,
        maxSegments = MaxSegments), "doc_id")
    case "novelty" =>
      ids(Streaming.noveltyGateBatchStep(batch(docsPath, b), "doc_id", "text", "ts",
        s"$root/novelty", minNovelty = 0.5, retention = Retention, pruneEvery = 0,
        maxSegments = MaxSegments), "doc_id")
    case "semdedup" =>
      ids(Streaming.semanticDedupBatchStep(batch(embPath, b), "vec_id", "embedding",
        "ts", centroids, "bucket", "centroid", threshold = 0.99, s"$root/semdedup",
        retention = Retention, pruneEvery = 0, maxSegments = MaxSegments), "vec_id")
  }

  private def ids(df: DataFrame, idCol: String): Seq[Long] =
    df.select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSeq

  /** A store's pending segments with their expiry stamps, read from the
    * store's metadata (no Spark job).
    */
  private def segments(store: String): Seq[Segment] =
    VersionedTable.pendingDeltas(spark, store).map { d =>
      val in = env.fs.open(new Path(s"$store/$d/${VersionedTable.MaxTsFile}"))
      try d -> new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    }

  /** The first `upTo` batches through all three stores, on fresh stores
    * at `root`.
    */
  def sequence(root: String, upTo: Int = batches): Seq[Step] = env.span("stream") {
    env.clear(root)
    for (b <- 0 until upTo; store <- Stores) yield {
      val (admitted, s) = Timed(env.span(s"stream.$store.step")(step(store, b, root)))
      Step(store, b, s, admitted, segments(s"$root/$store"))
    }
  }

  /** Decision digest: which ids each step of the first `upTo` batches
    * admitted, in step order.
    */
  def decisionDigest(steps: Seq[Step], upTo: Int = batches): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    steps.filter(_.batch < upTo).foreach { s =>
      md.update(s"${s.store}/${s.batch}:${s.admitted.sorted.mkString(",")};".getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  /** Per store, the segments its steps vacuumed and merged away. A
    * segment pending before a step and gone after it either fell behind
    * the step's retention horizon (vacuumed) or, if it had not, was
    * folded into an L1 merge: nothing else removes a pending segment.
    */
  def maintenance(steps: Seq[Step]): Map[String, (Int, Int)] =
    Stores.map { store =>
      val mine = steps.filter(_.store == store).sortBy(_.batch)
      val before = Seq.empty[Segment] +: mine.map(_.live)
      store -> before.zip(mine).foldLeft((0, 0)) { case ((vacuumed, merged), (was, s)) =>
        val gone = was.filterNot(s.live.contains)
        val horizon = (T0 + (EventMinutes(s.batch) - RetentionMinutes) * 60L) * 1000L
        (vacuumed + gone.count(_._2 < horizon), merged + gone.count(_._2 >= horizon))
      }
    }.toMap

  /** Per store: admitted/input ratio, live segments, on-disk bytes. */
  def storeCounts(steps: Seq[Step], root: String): Map[String, Double] =
    Stores.flatMap { store =>
      val admitted = steps.filter(_.store == store).map(_.admitted.size).sum
      val p = s"$root/$store"
      Seq(s"stream.$store.admit_ratio" -> admitted.toDouble / (batches * batchRows),
        s"stream.$store.live_segments" -> segments(p).size.toDouble,
        s"stream.$store.store_bytes" -> env.bytesUnder(p).toDouble)
    }.toMap

  def checks(steps: Seq[Step], digests: Seq[String]): Seq[Check] = {
    // every input row is either admitted or dropped, never both or twice
    val input = (for (b <- 0 until batches; (path, id) <- Seq(docsPath -> "doc_id",
      embPath -> "vec_id")) yield (path, b) -> ids(batch(path, b), id).toSet).toMap
    val tally = steps.map { s =>
      val in = input((if (s.store == "semdedup") embPath else docsPath, s.batch))
      val dropped = in.count(i => !s.admitted.contains(i))
      (s, in.size, dropped, s.admitted.size + dropped == in.size && s.admitted.forall(in))
    }
    val bad = tally.count(!_._4)
    val perStoreDrops = Stores.map(st => st -> tally.filter(_._1.store == st).map(_._3).sum)
    val upkeep = maintenance(steps)
    Seq(
      Check("stream.admitted_plus_dropped", bad == 0,
        s"${tally.map(_._1.admitted.size).sum} admitted + ${tally.map(_._3).sum} dropped " +
          s"of ${tally.map(_._2).sum} input rows; $bad steps inconsistent"),
      Check("stream.every_store_drops", perStoreDrops.forall(_._2 > 0),
        perStoreDrops.map { case (s, d) => s"$s=$d" }.mkString(" ")),
      Check("stream.segments_vacuumed_and_merged",
        upkeep.values.forall { case (v, m) => v > 0 && m > 0 },
        Stores.map { s => s"$s vacuumed ${upkeep(s)._1} merged ${upkeep(s)._2}" }
          .mkString(", ")),
      Check("stream.digest_repeats", digests.distinct.size == 1,
        s"${digests.size} sequences, digests ${digests.distinct.mkString(",")}"))
  }
}

object ServeLoop {
  val Analytics = Seq("report", "role_view", "demographics_view")

  /** A request of the mix: its endpoint kind and argument. A keyset page
    * carries the cursor of the expected walk, so a request list replays
    * identically.
    */
  final case class Request(kind: String, term: String = "", offset: Int = 0,
                           account: Long = 0L, after: Option[Long] = None) {
    /** The span a request is traced under: one for the analytics endpoints. */
    def span: String = if (Analytics.contains(kind)) "analytics" else kind
  }
}

/** `serve`: the API surface of the reference (`dl/src/api/main.py`)
  * over the lake a `lifecycle` run leaves, driven by one closed-loop
  * client. Each response is compared, after its timing, with the answer
  * of a plain Scala scan of the processed rows: search, detail and
  * keyset pages by filter, the analytics endpoints by [[Expected]].
  */
final class ServeLoop(env: Env) {
  import env.spark
  import Expected.Owner
  import ServeLoop.{Analytics, Request}
  val PageSize = 20
  private var lake: String = _
  private var owners: Seq[Owner] = Seq.empty
  private var byAccount: Map[Long, Seq[Owner]] = Map.empty
  private var accounts: IndexedSeq[Long] = IndexedSeq.empty
  private var report: Map[String, Any] = Map.empty
  private var roles: Seq[String] = Seq.empty
  private var demographics: (Seq[String], Map[(String, Boolean), Set[(String, String)]]) =
    (Seq.empty, Map.empty)
  private val served = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val wrong = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** Serve the lake `runFull` left at `lake` (registering the warehouse
    * views of its result), and derive every expected analytics answer
    * without the engine's analytics or warehouse functions.
    */
  def prepare(lake: String, result: Pipeline.Result, dateId: String): Unit = {
    StarSchema.registerViews(spark, result.warehouse, loadTs = s"$dateId 00:00:00")
    this.lake = lake
    owners = spark.read.parquet(s"$lake/processed/business_owners")
      .select("Account Number", "Legal Name", "Owner Full Name", "Owner First Name",
        "Owner Last Name", "Legal Entity Owner", "Title")
      .collect().map(r => Owner(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5), r.getString(6))).toSeq
    byAccount = owners.groupBy(_.account)
    accounts = byAccount.keys.toIndexedSeq.sorted
    val dimRole = StarSchema.dimRole(spark).collect().toSeq.map(r =>
      Expected.Role(r.getString(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
    report = Expected.report(owners)
    roles = Expected.roleDistribution(owners, dimRole)
    demographics = Expected.ownerDemographics(owners, dimRole)
  }

  /** Serve `other`'s lake against `other`'s expected answers. */
  def adopt(other: ServeLoop): Unit = {
    lake = other.lake
    owners = other.owners
    byAccount = other.byAccount
    accounts = other.accounts
    report = other.report
    roles = other.roles
    demographics = other.demographics
  }

  private def latest: DataFrame = env.span("serve.lake.read_latest") {
    LakeStorage.readLatest(spark, lake, "processed", "business_owners")
  }

  private def grouped(df: DataFrame): DataFrame =
    QueryService.groupCollect(df, "Account Number", Seq("Legal Name"),
      Seq("Owner Full Name", "Title"))

  /** Seeded request blocks of 20 with a fixed mix (8 search pages, 6
    * details, 3 keyset pages, one request to each analytics endpoint),
    * shuffled within each block. The mix is an assumption, not a
    * measured traffic profile. Detail accounts are skewed toward the low
    * end of the account range, and one in ten misses; so does one search
    * term in ten. Keyset pages walk the account range page by page. Runs
    * time whole blocks, so every run sees the same mix.
    */
  def blocks(seed: Long): Iterator[Seq[Request]] = {
    val rng = new scala.util.Random(seed)
    val terms = owners.flatMap(o => Option(o.legal).toSeq.flatMap(_.split(" ").headOption))
      .distinct.sorted
    def term(): String =
      if (rng.nextInt(10) == 0) s"ZQX${rng.nextInt(1000)}"
      else terms(rng.nextInt(terms.size))
    def account(): Long =
      if (rng.nextInt(10) == 0) accounts.last + 1 + rng.nextInt(1000)
      else accounts((accounts.size * math.pow(rng.nextDouble(), 3)).toInt)
    var cursor = Option.empty[Long]
    def keyset(): Request = {
      val q = Request("keyset_page", after = cursor)
      val page = keysetPage(cursor)
      cursor = if (page.size < PageSize) None else page.lastOption
      q
    }
    Iterator.continually {
      val block = Seq.fill(8)(Request("search_page", term = term(),
          offset = PageSize * rng.nextInt(2))) ++
        Seq.fill(6)(Request("detail", account = account())) ++
        Seq.fill(3)(keyset()) ++
        Analytics.map(k => Request(k))
      rng.shuffle(block)
    }
  }

  private def keysetPage(after: Option[Long]): Seq[Long] =
    accounts.filter(a => after.forall(a > _)).take(PageSize)

  /** Serve one request: the engine call and the collect of its response,
    * timed. The response is checked separately, by [[verify]].
    */
  def serve(q: Request): (Seq[Row], Double) =
    Timed(env.span(s"serve.${q.span}")(fetch(q)))

  private def fetch(q: Request): Seq[Row] = (q.kind match {
    case "search_page" =>
      QueryService.paginateWithMeta(
        grouped(QueryService.searchAny(latest, Seq("Legal Name", "Owner Full Name"), q.term)),
        Seq("Account Number"), q.offset, PageSize)
    case "detail" =>
      grouped(QueryService.pointLookup(latest, "Account Number", lit(q.account)))
    case "keyset_page" =>
      QueryService.paginateAfter(grouped(latest), "Account Number", q.after.map(lit), PageSize)
    case "report" => Report.comprehensiveReport(latest.drop("date"))
    case "role_view" => spark.sql("SELECT * FROM v_role_distribution")
    case "demographics_view" => spark.sql("SELECT * FROM v_owner_demographics")
  }).collect().toSeq

  /** Compare a response with the expected answer and tally it. */
  def verify(q: Request, got: Seq[Row]): Unit = {
    served(q.kind) += 1
    if (!matches(q, got)) wrong(q.kind) += 1
  }

  def check: Check = Check("serve.responses_match", wrong.values.sum == 0,
    served.keys.toSeq.sorted.map(k => s"$k ${wrong(k)}/${served(k)} wrong").mkString(", "))

  private def matches(q: Request, got: Seq[Row]): Boolean = q.kind match {
    case "search_page" =>
      // only the rows that match are grouped, as the endpoint does
      val term = q.term.toUpperCase
      val matching = owners.filter(o =>
        Seq(o.legal, o.full).exists(s => s != null && s.contains(term)))
        .groupBy(_.account)
      val hits = matching.keys.toIndexedSeq.sorted
      got.map(_.getAs[Long]("Account Number")) == hits.slice(q.offset, q.offset + PageSize) &&
        got.forall(r => r.getAs[Long]("total_count") == hits.size &&
          r.getAs[Boolean]("has_more") == (hits.size > q.offset + PageSize) &&
          sameOwners(r, matching))
    case "detail" =>
      got.map(_.getAs[Long]("Account Number")) ==
        byAccount.get(q.account).map(_ => q.account).toSeq &&
        got.forall(sameOwners(_, byAccount))
    case "keyset_page" =>
      got.map(_.getAs[Long]("Account Number")) == keysetPage(q.after) &&
        got.forall(sameOwners(_, byAccount))
    case "report" =>
      got.size == 1 && Expected.sameReport(Expected.flatten(got.head), report)
    case "role_view" => Expected.roleDistributionOf(got) == roles
    case "demographics_view" =>
      val (lines, names) = Expected.ownerDemographicsOf(got)
      lines == demographics._1 && names.forall { case (k, n) =>
        demographics._2.get(k).exists(_.contains(n))
      }
  }

  private def sameOwners(r: Row, rows: Map[Long, Seq[Owner]]): Boolean = {
    val os = rows(r.getAs[Long]("Account Number"))
    def list(c: String) = r.getAs[scala.collection.Seq[String]](c).toList
    list("Owner Full Name_list") == os.flatMap(o => Option(o.full)).sorted.toList &&
      list("Title_list") == os.flatMap(o => Option(o.title)).sorted.toList &&
      r.getAs[String]("Legal Name") == os.head.legal
  }
}
