package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kmeans._

/** What a workload needs from the run: the session, its seed, its own
  * directory for inputs and outputs, and the listeners.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val workDir: String,
    val counters: SparkCounters,
    val plans: PlanTimes) {
  /** Whether the running operation counts (warm-up ones do not). */
  var counted = false
  def inputs: String = s"$workDir/inputs"
  def path(name: String): String = s"$workDir/$name"
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** Result check of one operation, run untimed after it: None when the
  * output is right, otherwise what is wrong.
  */
trait Check { def apply(): Option[String] }

object Check {
  val Ok: Check = () => None
}

/** One benchmark workload: seeded inputs, one timed operation, an output
  * check, and a traced variant of the operation that records spans at the
  * layer boundaries.
  */
trait Workload {
  def name: String
  /** Generator and operation parameters, reported with the result. */
  def describe: Seq[(String, String)]
  /** Write the seeded inputs under `ctx.inputs` (timed as set-up). */
  def generate(ctx: Ctx): Unit
  /** Untimed clean-up before each operation: remove what the previous one
    * wrote.
    */
  def reset(ctx: Ctx): Unit = ()
  /** Content hash of the written inputs. */
  def inputsHash(ctx: Ctx): String
  /** Untimed preparation: reference results for the checks, frames. */
  def prepare(ctx: Ctx): Unit
  /** One timed operation; the returned check runs after the clock stops. */
  def op(ctx: Ctx): Check
  /** The operation re-driven through the same public steps under spans.
    * The first root span does the same work as [[op]] (its wall minus the
    * untraced wall is the tracing overhead); further roots break it down.
    */
  def tracedOp(ctx: Ctx, t: Tracer): Check
  /** Name of the root span that does the same work as [[op]]. */
  def measuredRoot: String
  /** Per-layer metrics from the traced operations' spans. */
  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double]
  /** Outputs to be checked outside the JVM, as JSON objects. */
  def externalChecks(ctx: Ctx): Seq[String] = Nil
}

/** Helpers shared by the workloads' per-layer metrics. */
object Layers {
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Jobs submitted from a span or any span under it. */
  def work(ctx: Ctx, spans: Seq[Span], root: Span): Seq[Work] = {
    val ids = subtree(spans, root).map(_.id)
    ids.map(ctx.counters.spanWork)
  }

  def subtree(spans: Seq[Span], root: Span): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(go)
    go(root)
  }

  def execSeconds(ws: Seq[Work]): Double =
    SelfTime.unionLength(ws.flatMap(_.jobIntervals)) / 1e3

  def taskCpuSeconds(ws: Seq[Work]): Double = ws.map(_.taskCpuNs).sum / 1e9

  def shuffleBytes(ws: Seq[Work]): Double = ws.map(_.shuffleWriteBytes).sum.toDouble

  def planSeconds(ctx: Ctx, s: Span): Double = ctx.plans.secondsWithin(s.startMs, s.endMs)

  /** Wall time of a span not covered by any of its jobs. */
  def driverGap(ctx: Ctx, spans: Seq[Span], root: Span): Double =
    root.seconds - execSeconds(work(ctx, spans, root))
}

/** Lloyd's k-means on 2-D points through `graft.kmeans.Lloyd.fit`. */
final class LloydWorkload(
    val name: String, mixture: Inputs.Mixture, k: Int, maxIter: Int) extends Workload {
  // a tolerance far above last-ulp noise and far below any real move, so the
  // loop stops exactly when no assignment changed
  private val tol = 1e-9
  private val cfg = KMeansConfig(k, maxIter, tol, EmptyClusterPolicy.Drop)
  private var points: DataFrame = _
  private var reference: RefLloyd.Result = _

  def describe: Seq[(String, String)] = mixture.describe ++ Seq(
    "k" -> Json.num(k.toLong), "max_iter" -> Json.num(maxIter.toLong),
    "tol" -> Json.num(tol), "empty_clusters" -> Json.str("Drop"),
    "init" -> Json.str("first-K by pid"))

  def generate(ctx: Ctx): Unit =
    Inputs.writePoints2(ctx.spark, ctx.seed, mixture, s"${ctx.inputs}/points")

  def inputsHash(ctx: Ctx): String =
    Inputs.contentHash(ctx.spark.read.parquet(s"${ctx.inputs}/points"))

  def prepare(ctx: Ctx): Unit = {
    points = ctx.spark.read.parquet(s"${ctx.inputs}/points")
    val n = mixture.n.toInt
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    (0 until n).foreach { i =>
      val p = mixture.row(ctx.seed, i.toLong)
      xs(i) = p(0)
      ys(i) = p(1)
    }
    reference = RefLloyd.fit(xs, ys, k, maxIter, tol)
  }

  private def check(got: Seq[Centroid2], iterations: Int): Check = () => {
    val want = reference.centroids
    if (iterations != reference.iterations)
      Some(s"iterations $iterations, reference ${reference.iterations}")
    else if (got.map(_.cid) != want.map(_._1))
      Some(s"cluster ids ${got.map(_.cid)}, reference ${want.map(_._1)}")
    else got.zip(want).collectFirst {
      case (g, (_, wx, wy)) if math.abs(g.x - wx) > 1e-7 || math.abs(g.y - wy) > 1e-7 =>
        s"centroid ${g.cid} at (${g.x}, ${g.y}), reference ($wx, $wy)"
    }
  }

  def op(ctx: Ctx): Check = {
    val r = Lloyd.fit(points, cfg)
    check(r.centroids, r.iterations)
  }

  def measuredRoot = "kmeans.fit"

  def tracedOp(ctx: Ctx, t: Tracer): Check = {
    // Lloyd.fit's own steps: persist, first-K init, then per iteration
    // assign -> update -> collect and the in-process convergence test
    val cached = points.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val c = t.span("kmeans.fit") {
        var cs = t.span("kmeans.init") {
          Ops.collectCentroids(Ops.initFirstK(cached, k))
        }
        var iter = 0
        var done = false
        while (iter < maxIter && !done) {
          iter += 1
          val next = t.span("kmeans.step") {
            Ops.collectCentroids(Ops.update(Ops.assign(cached, cs)))
          }
          done = t.span("kmeans.converged")(Ops.converged(cs, next, tol))
          cs = next
        }
        check(cs, iter)
      }
      // init is the first action on the persisted frame, so it fills the
      // cache; the same init again reads the filled cache
      t.span("kmeans.init_warm")(Ops.collectCentroids(Ops.initFirstK(cached, k)))
      c
    } finally cached.unpersist(blocking = false)
  }

  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    import Layers._
    val fits = spans.filter(_.name == "kmeans.fit")
    val stepsOf = fits.map(f => spans.filter(s => s.parent == f.id && s.name == "kmeans.step"))
    val steps = stepsOf.flatten
    def perStep(f: Span => Double) = med(steps.map(f))
    Map(
      "kmeans.init_s" -> med(spans.filter(_.name == "kmeans.init").map(_.seconds)),
      "kmeans.iterations" -> stepsOf.lastOption.map(_.size.toDouble).getOrElse(0.0),
      "kmeans.step_p50_s" -> perStep(_.seconds),
      "kmeans.step_plan_s" -> perStep(planSeconds(ctx, _)),
      "kmeans.step_codegen_s" -> perStep(_.compileNs / 1e9),
      "kmeans.step_exec_s" -> perStep(s => execSeconds(work(ctx, spans, s))),
      "kmeans.step_task_cpu_s" -> perStep(s => taskCpuSeconds(work(ctx, spans, s))),
      "kmeans.step_shuffle_write_bytes" -> perStep(s => shuffleBytes(work(ctx, spans, s))),
      "kmeans.cache_fill_s" -> (med(spans.filter(_.name == "kmeans.init").map(_.seconds)) -
        med(spans.filter(_.name == "kmeans.init_warm").map(_.seconds))),
      "kmeans.driver_gap_s" -> med(fits.map(driverGap(ctx, spans, _))))
  }
}

/** IVF index build (`Similarity.writeIvfIndex`) and batched search
  * (`Similarity.ivfTopKFromStore`) on seeded n-D vectors.
  */
final class IvfWorkload(
    val name: String, corpus: Inputs.Mixture, nlist: Int, nprobe: Int, topK: Int,
    batches: Int, batchSize: Int, minRecall: Double) extends Workload {
  import graft.sim.Similarity
  private val queryBase = 1000000000L
  private val queries = corpus.copy(n = batches.toLong * batchSize)
  private var corpusDf: DataFrame = _
  private var batchDfs: Seq[DataFrame] = Nil
  /** Exact top-k (id, cosine) per query id. */
  private var exact: Map[Long, Seq[(Long, Double)]] = Map.empty
  private var corpusVecs: Array[Array[Double]] = _
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def describe: Seq[(String, String)] = corpus.describe ++ Seq(
    "nlist" -> Json.num(nlist.toLong), "nprobe" -> Json.num(nprobe.toLong),
    "top_k" -> Json.num(topK.toLong), "batches" -> Json.num(batches.toLong),
    "batch_size" -> Json.num(batchSize.toLong), "min_recall" -> Json.num(minRecall))

  private def index(ctx: Ctx) = ctx.path("index")

  def generate(ctx: Ctx): Unit = {
    Inputs.writeVectors(ctx.spark, ctx.seed, corpus, 0L, s"${ctx.inputs}/corpus")
    Inputs.writeVectors(ctx.spark, ctx.seed, queries, queryBase, s"${ctx.inputs}/queries")
  }

  override def reset(ctx: Ctx): Unit = Main.deleteRecursively(index(ctx))

  def inputsHash(ctx: Ctx): String =
    Seq("corpus", "queries").map(t =>
      Inputs.contentHash(ctx.spark.read.parquet(s"${ctx.inputs}/$t"))).mkString("+")

  private def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)

  private def cosine(q: Array[Double], qn: Double, c: Array[Double], cn: Double): Double =
    if (qn * cn == 0.0) 0.0
    else {
      var dot = 0.0
      var i = 0
      while (i < q.length) { dot += q(i) * c(i); i += 1 }
      dot / (qn * cn)
    }

  def prepare(ctx: Ctx): Unit = {
    corpusDf = ctx.spark.read.parquet(s"${ctx.inputs}/corpus")
    val qdf = ctx.spark.read.parquet(s"${ctx.inputs}/queries")
    batchDfs = (0 until batches).map { b =>
      val lo = queryBase + b.toLong * batchSize
      qdf.filter(col("id") >= lo && col("id") < lo + batchSize)
    }
    corpusVecs = Array.tabulate(corpus.n.toInt)(i => corpus.row(ctx.seed, i.toLong))
    val norms = corpusVecs.map(norm)
    exact = (0L until queries.n).map { qi =>
      val qid = queryBase + qi
      val q = queries.row(ctx.seed, qid)
      val qn = norm(q)
      val sims = corpusVecs.indices.map(i => (i.toLong, cosine(q, qn, corpusVecs(i), norms(i))))
      qid -> sims.sortBy { case (id, s) => (-s, id) }.take(topK)
    }.toMap
  }

  private def build(vectors: DataFrame, path: String): Unit =
    Similarity.writeIvfIndex(vectors, nlist, path)

  private def search(ctx: Ctx, b: Int) =
    Similarity.ivfTopKFromStore(batchDfs(b), index(ctx), topK, nprobe).collect()

  private def check(ctx: Ctx, results: Seq[Array[org.apache.spark.sql.Row]]): Check = () => {
    val problems = results.zipWithIndex.flatMap { case (rows, b) =>
      val got = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Double]("sim")))
      val sizeProblem =
        if (got.length != batchSize * topK)
          Some(s"batch $b returned ${got.length} rows, want ${batchSize * topK}")
        else None
      // every returned similarity is the exact cosine of that pair
      val simProblem = got.collectFirst {
        case (qid, cid, sim) if {
          val q = queries.row(ctx.seed, qid)
          val c = corpusVecs(cid.toInt)
          math.abs(cosine(q, norm(q), c, norm(c)) - sim) > 1e-9
        } => s"batch $b: sim($qid, $cid) = $sim is not the pair's cosine"
      }
      sizeProblem.toSeq ++ simProblem
    }
    val hits = results.flatten.groupBy(_.getAs[Long]("qid")).toSeq.map { case (qid, rows) =>
      val want = exact(qid).map(_._1).toSet
      rows.count(r => want(r.getAs[Long]("cid"))).toDouble / topK
    }
    val recall = if (hits.isEmpty) 0.0 else hits.sum / queries.n
    recalls += recall
    problems.headOption.orElse(
      if (recall < minRecall) Some(s"recall@$topK $recall < $minRecall") else None)
  }

  def op(ctx: Ctx): Check = {
    build(corpusDf, index(ctx))
    check(ctx, (0 until batches).map(search(ctx, _)))
  }

  def measuredRoot = "sim.build_search"

  def tracedOp(ctx: Ctx, t: Tracer): Check = {
    val c = t.span("sim.build_search") {
      t.span("sim.build")(build(corpusDf, index(ctx)))
      check(ctx, (0 until batches).map(b => t.span("sim.search")(search(ctx, b))))
    }
    // the two kmeans steps writeIvfIndex runs, each timed on its own
    val pts = corpusDf.select(col("id").as("pid"), col("vec").as("features"))
    val model = t.span("kmeans.quantizer_fit") {
      LloydN.iterateNSampled(pts, nlist, 5, 100000L, Some(corpus.n))
    }
    t.span("kmeans.assign_cells")(ctx.noop(OpsN.assignNAdaptive(pts, model)))
    // contrast: the single-node NearestCentroid argmin on the same model,
    // which assignNAdaptive leaves for the cross-join past 64 centroids
    t.span("kmeans.assign_cells_nearest")(ctx.noop(OpsN.assignN(pts, model)))
    c
  }

  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    import Layers._
    def named(n: String) = spans.filter(_.name == n)
    val builds = named("sim.build")
    val searches = named("sim.search")
    val fitS = med(named("kmeans.quantizer_fit").map(_.seconds))
    val assignS = med(named("kmeans.assign_cells").map(_.seconds))
    val buildS = med(builds.map(_.seconds))
    Map(
      "kmeans.quantizer_fit_s" -> fitS,
      "kmeans.assign_cells_s" -> assignS,
      "kmeans.assign_cells_nearest_s" -> med(named("kmeans.assign_cells_nearest").map(_.seconds)),
      "sim.build_s" -> buildS,
      "sim.index_write_s" -> (buildS - fitS - assignS),
      "sim.build_shuffle_write_bytes" ->
        med(builds.map(s => shuffleBytes(work(ctx, spans, s)))),
      "sim.build_task_cpu_s" -> med(builds.map(s => taskCpuSeconds(work(ctx, spans, s)))),
      "sim.search_p50_s" -> med(searches.map(_.seconds)),
      "sim.search_qps" ->
        (if (searches.isEmpty) 0.0 else searches.size * batchSize / searches.map(_.seconds).sum),
      "sim.search_plan_s" -> med(searches.map(planSeconds(ctx, _))),
      "sim.search_exec_s" -> med(searches.map(s => execSeconds(work(ctx, spans, s)))),
      "sim.search_records_read" ->
        med(searches.map(s => work(ctx, spans, s).map(_.recordsRead).sum.toDouble)),
      "sim.recall_at_10" -> med(recalls.toSeq))
  }
}

/** The end-to-end training-data pipeline key `tx_pipeline_e2e` over a
  * seeded `documents` table.
  */
final class PipelineWorkload(
    val name: String, corpus: Inputs.Corpus) extends Workload {
  import graft.SparkEntry
  import graft.dedup.Dedup
  import graft.text.TextOps
  import graft.util.Checkpoints.checkpointTracked
  private val key = "tx_pipeline_e2e"
  private val stageRows = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Every operation's collected result, checked against the oracle. */
  private val outputs = scala.collection.mutable.ArrayBuffer.empty[String]

  def describe: Seq[(String, String)] = corpus.describe :+ ("key" -> Json.str(key))

  def generate(ctx: Ctx): Unit =
    Inputs.writeDocuments(ctx.spark, ctx.seed, corpus, s"${ctx.inputs}/documents.parquet")

  def inputsHash(ctx: Ctx): String =
    Inputs.contentHash(ctx.spark.read.parquet(s"${ctx.inputs}/documents.parquet"))

  def prepare(ctx: Ctx): Unit = ()

  private def result(ctx: Ctx): DataFrame = SparkEntry.queries(key)(ctx.spark, ctx.inputs)

  def op(ctx: Ctx): Check = {
    val df = result(ctx)
    val rows = df.collect()
    if (!ctx.counted) Check.Ok
    else () => {
      val file = ctx.path(s"check/result-${outputs.size}.json")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(file).getParent)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(file), Json.obj(Seq(
        "columns" -> Json.arr(df.columns.toSeq.map(Json.str)),
        "rows" -> Json.arr(rows.toSeq.map(r =>
          Json.arr(r.toSeq.map(v => if (v == null) "null" else Json.str(v.toString))))))))
      outputs += file
      None
    }
  }

  def measuredRoot = "pipeline.key"

  def tracedOp(ctx: Ctx, t: Tracer): Check = {
    t.span("pipeline.key")(result(ctx).collect())
    // the key's stages, each public function on the previous stage's
    // checkpointed output, with the key's parameters
    val frames = t.span("pipeline.stages") {
      val docs = graft.Graft.table(ctx.spark, ctx.inputs, "documents")
      val kept0 = t.span("text.analyze") {
        checkpointTracked(docs.join(
          TextOps.analyze(docs).filter(col("quality") >= 0.5).select(col("doc_id")),
          Seq("doc_id"), "left_semi"), eager = true)
      }
      val kept1 = t.span("dedup.exact")(checkpointTracked(Dedup.exactDedup(kept0), eager = true))
      val kept2 = t.span("dedup.near") {
        checkpointTracked(Dedup.nearDedup(kept1, n = 3, numHashes = 12, bands = 4,
          threshold = 0.5), eager = true)
      }
      val kept3 = t.span("text.leakage") {
        val leaks = TextOps.splitLeakage(kept2, n = 3, threshold = 0.4, maxShingleDf = Some(50L))
        val contaminated = leaks
          .select(when(col("split1") === "train", col("d1"))
            .when(col("split2") === "train", col("d2")).as("doc_id"))
          .filter(col("doc_id").isNotNull).distinct()
        checkpointTracked(kept2.join(contaminated, Seq("doc_id"), "left_anti"), eager = true)
      }
      val capped = t.span("text.source_cap") {
        checkpointTracked(kept3.join(TextOps.sourceCap(kept3, cap = 7).select(col("doc_id")),
          Seq("doc_id"), "left_semi"), eager = true)
      }
      val packed = TextOps.packSequences(capped, budget = 512L, shards = 8)
      t.span("text.pack")(ctx.noop(packed))
      Seq("quality" -> kept0, "exact" -> kept1, "near" -> kept2, "decontam" -> kept3,
        "capped" -> capped, "packed" -> packed)
    }
    frames.foreach { case (stage, df) => stageRows(stage) = df.count().toDouble }
    Check.Ok
  }

  def layers(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    import Layers._
    def stage(n: String) = med(spans.filter(_.name == n).map(_.seconds))
    val keys = spans.filter(_.name == "pipeline.key")
    Map(
      "text.analyze_s" -> stage("text.analyze"),
      "dedup.exact_s" -> stage("dedup.exact"),
      "dedup.near_s" -> stage("dedup.near"),
      "text.leakage_s" -> stage("text.leakage"),
      "text.source_cap_s" -> stage("text.source_cap"),
      "text.pack_s" -> stage("text.pack"),
      "pipeline.plan_s" -> med(keys.map(planSeconds(ctx, _))),
      "pipeline.driver_gap_s" -> med(keys.map(driverGap(ctx, spans, _))),
      "pipeline.task_cpu_s" -> med(keys.map(s => taskCpuSeconds(work(ctx, spans, s)))),
      "pipeline.shuffle_write_bytes" -> med(keys.map(s => shuffleBytes(work(ctx, spans, s))))
    ) ++ stageRows.map { case (s, n) => s"pipeline.rows_$s" -> n }
  }

  override def externalChecks(ctx: Ctx): Seq[String] = {
    val sqlFile = java.nio.file.Paths.get(ctx.path("check/oracle.sql"))
    java.nio.file.Files.createDirectories(sqlFile.getParent)
    java.nio.file.Files.writeString(sqlFile, SparkEntry.oracleSql(key))
    Seq(Json.obj(Seq(
      "kind" -> Json.str("duckdb"), "key" -> Json.str(key),
      "results" -> Json.arr(outputs.toSeq.map(Json.str)), "sql" -> Json.str(sqlFile.toString),
      "tables" -> Json.obj(Seq(
        "documents" -> Json.str(s"${ctx.inputs}/documents.parquet"))))))
  }

}

object Workloads {
  val all: Seq[Workload] = Seq(
    new LloydWorkload("lloyd2d_large",
      Inputs.Mixture(n = 1000000L, dim = 2, components = 16, sigma = 12.0),
      k = 16, maxIter = 3),
    new IvfWorkload("ivf_build_search",
      Inputs.Mixture(n = 5000L, dim = 64, components = 64, sigma = 8.0),
      nlist = 80, nprobe = 8, topK = 10, batches = 2, batchSize = 64, minRecall = 0.5),
    // the shape of the sf0.1 `documents` fixture (see README, "Pipeline
    // inputs"), at 300 of its 5,000 rows
    new PipelineWorkload("pipeline_e2e",
      Inputs.Corpus(docs = 300, sources = 20, minWords = 10, maxWords = 99,
        nearDupShare = 0.05, exactDupShare = 0.0016,
        langShares = Seq("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149, "fr" -> 0.148,
          "de" -> 0.140))))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
