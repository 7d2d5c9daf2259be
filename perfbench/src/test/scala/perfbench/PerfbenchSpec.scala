package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = {
    val base = Files.createDirectories(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    Files.createTempDirectory(base, "perfbench-spec").toString
  }

  // ---- seeded inputs -------------------------------------------------------

  test("the same seed writes the same content hash, another seed another") {
    val m = Inputs.Mixture(n = 2000, dim = 2, components = 4, sigma = 5.0)
    def hash(seed: Long) = {
      val dir = s"${tmp()}/points"
      Inputs.writePoints2(spark, seed, m, dir)
      Inputs.contentHash(spark.read.parquet(dir))
    }
    assert(hash(7) === hash(7))
    assert(hash(7) !== hash(8))
    val c = Inputs.Corpus(docs = 60, sources = 5, minWords = 5, maxWords = 20,
      nearDupShare = 0.1, exactDupShare = 0.05, langShares = Seq("en" -> 0.6, "de" -> 0.4))
    def docsHash(seed: Long) = {
      val dir = s"${tmp()}/documents.parquet"
      Inputs.writeDocuments(spark, seed, c, dir)
      Inputs.contentHash(spark.read.parquet(dir))
    }
    assert(docsHash(3) === docsHash(3))
    assert(docsHash(3) !== docsHash(4))
  }

  test("generated rows do not depend on how the ids are partitioned") {
    val m = Inputs.Mixture(n = 100, dim = 3, components = 5, sigma = 1.0)
    val dir = s"${tmp()}/vectors"
    Inputs.writeVectors(spark, 11L, m, 1000L, dir)
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rows.size === 100)
    (1000L until 1100L).foreach(id => assert(rows(id) === m.row(11L, id).toSeq))
  }

  test("generated documents have the shape the corpus parameters give") {
    val c = Inputs.Corpus(docs = 4000, sources = 20, minWords = 10, maxWords = 99,
      nearDupShare = 0.05, exactDupShare = 0.0016,
      langShares = Seq("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149, "fr" -> 0.148,
        "de" -> 0.140))
    val texts = (0L until c.docs).map(c.text(1L, _))
    val near = texts.filter(_.endsWith(" dup"))
    assert(math.abs(near.size / 4000.0 - 0.05) < 0.01)
    texts.filterNot(_.endsWith(" dup")).foreach { t =>
      val words = t.split(" ")
      assert(words.length >= 10 && words.length <= 99)
      assert(words.forall(Inputs.Vocabulary.contains))
    }
    // near duplicates copy earlier and later documents alike
    val firstIndex = texts.zipWithIndex.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).min }
    val copied = near.zip(texts.indices.filter(i => texts(i).endsWith(" dup")))
      .flatMap { case (t, i) => firstIndex.get(t.stripSuffix(" dup")).map(_ -> i) }
    assert(copied.exists { case (base, i) => base < i } && copied.exists { case (base, i) => base > i })
    val langs = (0L until c.docs).map(c.lang(1L, _)).groupBy(identity).map { case (l, xs) =>
      l -> xs.size / 4000.0 }
    c.langShares.foreach { case (l, share) => assert(math.abs(langs(l) - share) < 0.03, l) }
  }

  // ---- self time -----------------------------------------------------------

  private def span(id: Int, parent: Int, start: Long, end: Long, name: String = "s") =
    Span(id, name, traceId = 1, parent = parent, startNs = start, endNs = end,
      startMs = start, endMs = end)

  test("union length merges overlapping and touching intervals") {
    assert(SelfTime.unionLength(Nil) === 0L)
    assert(SelfTime.unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 31L))) === 21L)
    assert(SelfTime.unionLength(Seq((5L, 5L), (9L, 3L))) === 0L)
  }

  test("self time subtracts the children's covered union, clipped to the parent") {
    // root [0,100): children a [10,40) and b [30,60) overlap, c [90,120)
    // runs past the root; a has a child a1 [15,20)
    val spans = Seq(
      span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
      span(3, 0, 90, 120), span(4, 1, 15, 20))
    val self = SelfTime.selfTimes(spans)
    assert(self(0) === 100 - (50 + 10))
    assert(self(1) === 30 - 5)
    assert(self(2) === 30)
    assert(self(3) === 30)
    assert(self(4) === 5)
    assert(SelfTime.coverage(spans, spans.head) === (25 + 30 + 30 + 5) / 100.0)
  }

  test("a leaf-only trace covers nothing; a fully tiled one covers everything") {
    val root = span(0, -1, 0, 10)
    assert(SelfTime.coverage(Seq(root), root) === 0.0)
    val tiled = Seq(root, span(1, 0, 0, 4), span(2, 0, 4, 10))
    assert(SelfTime.coverage(tiled, root) === 1.0)
  }

  // ---- metric names --------------------------------------------------------

  private lazy val benchmarkJson = {
    val f = Seq(new File("../BENCHMARK.json"), new File("BENCHMARK.json")).find(_.exists)
      .getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(f)
  }

  private def entries(key: String): Seq[(String, String)] =
    benchmarkJson.get(key).elements().asScala.toSeq.map { e =>
      e.get("name").asText() -> Option(e.get("unit")).map(_.asText()).getOrElse("")
    }

  test("emitted metric names and units equal BENCHMARK.json's") {
    assert(Main.EndToEnd === entries("end_to_end"))
    assert(Main.PerLayer === entries("per_layer"))
  }

  test("the workloads equal BENCHMARK.json's") {
    assert(Workloads.all.map(_.name) === entries("workloads").map(_._1))
  }

  // ---- reference Lloyd -----------------------------------------------------

  test("reference Lloyd on a hand-computable input") {
    // first-K init takes (0,0) and (1,0); the next step splits the two groups
    val xs = Array(0.0, 1.0, 10.0, 11.0)
    val ys = Array(0.0, 0.0, 0.0, 0.0)
    val r = RefLloyd.fit(xs, ys, k = 2, maxIter = 10, tol = 1e-9)
    assert(r.centroids === Seq((0, 0.5, 0.0), (1, 10.5, 0.0)))
    // the third step moves nothing, so the loop stops there
    assert(r.iterations === 3)
  }

  test("reference Lloyd drops an empty cluster like Lloyd.fit's Drop policy") {
    // (5,0) is taken twice by first-K init; cid 1 ties with cid 0 and loses
    val xs = Array(5.0, 5.0, 0.0, 10.0)
    val ys = Array(0.0, 0.0, 0.0, 0.0)
    val r = RefLloyd.fit(xs, ys, k = 2, maxIter = 5, tol = 1e-9)
    assert(r.centroids.map(_._1) === Seq(0))
  }

  test("reference Lloyd matches graft's Lloyd.fit on a seeded mixture") {
    import graft.kmeans.{EmptyClusterPolicy, KMeansConfig, Lloyd}
    val m = Inputs.Mixture(n = 3000, dim = 2, components = 6, sigma = 9.0)
    val dir = s"${tmp()}/points"
    Inputs.writePoints2(spark, 5L, m, dir)
    val rows = (0 until m.n.toInt).map(i => m.row(5L, i.toLong))
    val want = RefLloyd.fit(rows.map(_(0)).toArray, rows.map(_(1)).toArray, 5, 8, 1e-9)
    val got = Lloyd.fit(spark.read.parquet(dir),
      KMeansConfig(5, 8, 1e-9, EmptyClusterPolicy.Drop))
    assert(got.iterations === want.iterations)
    assert(got.centroids.map(_.cid) === want.centroids.map(_._1))
    got.centroids.zip(want.centroids).foreach { case (g, (_, x, y)) =>
      assert(math.abs(g.x - x) < 1e-9 && math.abs(g.y - y) < 1e-9)
    }
  }

  test("reference Lloyd reproduces the points2 K=4 golden (FIXTURES.md)") {
    // the reference input files are not part of the repository; point
    // REFERENCE_INPUT_DIR at the directory holding points2.txt to run this
    val dir = sys.env.get("REFERENCE_INPUT_DIR")
    assume(dir.exists(d => new File(d, "points2.txt").exists()),
      "REFERENCE_INPUT_DIR with points2.txt not set")
    val pts = scala.io.Source.fromFile(new File(dir.get, "points2.txt")).getLines()
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(x, y) = l.split(",").map(_.trim.toDouble); (x, y) }.toSeq
    val r = RefLloyd.fit(pts.map(_._1).toArray, pts.map(_._2).toArray, 4, 7, 0.001)
    val golden = Seq((68.7944, 50.4526), (86.8043, 25.4590), (15.0706, 33.6109),
      (23.8604, 74.2431))
    assert(r.centroids.size === 4)
    golden.foreach { case (gx, gy) =>
      val nearest = r.centroids.map { case (_, x, y) => math.hypot(x - gx, y - gy) }.min
      assert(nearest <= 1e-4, s"no centroid within 1e-4 of ($gx, $gy): ${r.centroids}")
    }
  }
}
