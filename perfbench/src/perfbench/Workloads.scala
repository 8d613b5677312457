package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.algos.{ConnectedComponents, KTruss, LabelPropagation, PageRank, TriangleCount}
import graft.corpus.Corpus

/** One pass of a workload: the public calls it times, the checks it defers
  * until the pass's timed region has ended, and the operations it counted.
  * A warm-up pass makes the same calls with every loop capped at
  * [[Pass.WarmUpIters]] iterations, so each plan is planned, compiled and run
  * at a fraction of a full pass's cost; its outputs are not checked.
  */
final class Pass(val id: Int, tracer: Option[Tracer], warm: Boolean = false) {
  val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private val checks = scala.collection.mutable.ArrayBuffer[(String, () => Unit)]()
  var attempted = 0
  var failed = 0

  /** Times `body` as one operation, traced as the span `name`. */
  def call[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    tracer.foreach(_.enter(s"$id/$name"))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] pass $id: $name failed: $e")
        None
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.exit())
    spans += Span(name, "pass", id, startMs, System.currentTimeMillis(), seconds)
    out
  }

  /** Registers a check of `name`'s output; it runs after the pass is timed. */
  def check(name: String)(body: => Unit): Unit = if (!warm) checks += ((name, () => body))

  /** A loop's iteration limit in this pass. */
  def iters(n: Int): Int = if (warm) math.min(n, Pass.WarmUpIters) else n

  def runChecks(): Unit = checks.foreach { case (name, body) =>
    try body() catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] pass $id: $name output is wrong: ${e.getMessage}")
    }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}

object Pass {
  val WarmUpIters = 1
}

/** A seeded workload. `setup` writes the inputs, `prepare` computes the
  * reference outputs once, and `pass` runs the timed calls and registers the
  * checks of their outputs.
  */
abstract class Workload(val spark: SparkSession, val work: File, val seed: Long) {
  def setup(): Unit
  def prepare(): Unit
  def pass(p: Pass): Unit
  /** Untimed warm-up passes before the timed ones. A fixed count, so every
    * run's timed passes start from the same point of the JIT's warm-up.
    */
  def warmUpPasses: Int
  /** Extra metrics read from outputs and the disk, per pass: name -> value. */
  def layerFacts(p: Pass): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end figures printed for the reader. */
  def callFigures(p: Pass): Seq[(String, Double, String)]

  protected def path(name: String): String = new File(work, name).getAbsolutePath

  protected def need[A](o: Option[A]): A =
    o.getOrElse(throw new IllegalStateException("its input call failed"))

  protected def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(what)

  protected def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Engine ranks against replayed ones, per vertex, relative 1e-9. */
  protected def expectRanks(ranks: DataFrame, g: Reference.Graph, want: Array[Double]): Unit = {
    val got = ranks.select(col("id"), col("r")).collect()
    expect(got.length == g.n, s"${got.length} ranked vertices, want ${g.n}")
    got.foreach { row =>
      val i = g.index(row.getLong(0))
      val r = row.getDouble(1)
      expect(math.abs(r - want(i)) <= 1e-9 * math.abs(want(i)),
        s"rank of ${g.ids(i)} is $r, want ${want(i)}")
    }
  }

  /** Engine (id, label) rows against replayed label indices, exactly. */
  protected def expectLabels(labels: DataFrame, g: Reference.Graph, want: Array[Int]): Unit = {
    val got = labels.collect()
    expect(got.length == g.n, s"${got.length} labelled vertices, want ${g.n}")
    got.foreach { row =>
      val i = g.index(row.getLong(0))
      expect(row.getLong(1) == g.ids(want(i)),
        s"label of ${g.ids(i)} is ${row.getLong(1)}, want ${g.ids(want(i))}")
    }
  }
}

object Workload {
  val Names = Seq("corpus_linkgraph", "cosupplier_clique")

  def apply(name: String, spark: SparkSession, work: File, seed: Long): Workload = name match {
    case "corpus_linkgraph" => new CorpusLinkGraph(spark, work, seed)
    case "cosupplier_clique" => new CoSupplier(spark, work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  /** Files in the synthetic corpus; about four resolved imports each. */
  val CorpusFiles = 20000L
  val CorpusFanout = 4 // Corpus.synthesize's default
  /** Label-propagation round limit. Seeded corpus graphs converge after 12
    * to 16 rounds; a limit below that gives every seed the same number of
    * rounds, so the workload's time does not hinge on where one seed's graph
    * converges.
    */
  val LpaRounds = 10
  /** Suppliers, parts and line items of the co-supplier input. Thirty-odd
    * suppliers per part over this many parts covers every supplier pair, so
    * the graph is the complete graph on `Suppliers` vertices, as at TPC-H
    * sf0.1 (where it is K1000).
    */
  val Suppliers = 400
  val Parts = 4000
  val LineItems = 120000
}

/** The north-star job over one seeded corpus: derive the link graph; run
  * PageRank, components, label propagation and triangles over the one edge
  * table; then run PageRank and components again with checkpoints, stopped
  * at about half their iterations with snapshots every two, and resume both
  * from the newest complete snapshot to the fixpoint.
  */
final class CorpusLinkGraph(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work, seed) {
  private val corpusPath = path("corpus.parquet")
  private val prDir = path("ckpt_pagerank")
  private val ccDir = path("ckpt_components")
  private val every = 2
  private var graph: Reference.Graph = _
  private var edgeRows: Array[(Long, Long, Double)] = _ // (src, dst, w) by (src, dst)
  private var ranks, ranksHalf: Array[Double] = _
  private var prIters, prHalf = 0
  private var comps, compsHalf: Array[Int] = _
  private var ccRounds, ccHalf = 0
  private var lpa: Array[Int] = _
  private var triangles = 0L
  private val prMetrics = scala.collection.mutable.Map[Int, Seq[PageRank.IterMetric]]()
  private val rounds = scala.collection.mutable.Map[Int, Int]()
  private val ckpt = scala.collection.mutable.Map[Int, (Double, Double, Double)]()

  private val edgeCall = "corpus.deriveEdges"

  /** One capped pass takes as long as a few co-supplier passes: the loops'
    * planning and setup, not their iterations, is what warms up.
    */
  def warmUpPasses = 1

  def setup(): Unit = Corpus.synthesize(spark, Workload.CorpusFiles, seed = seed)
    .write.mode("overwrite").parquet(corpusPath)

  /** The edge table the corpus implies, derived on the driver without the
    * engine: parse every `import <repo>/<path>` line of every file, resolve
    * the name against the corpus's (repo, path) names, drop self-loops and
    * count repeats as `w`. Vertex ids are Spark's `xxhash64(repo, path)`.
    * The algorithm references are computed over this graph.
    */
  def prepare(): Unit = {
    val rows = spark.read.parquet(corpusPath).select("repo", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // a name held by several files resolves to each of them, as a join does
    val copies = rows.groupBy(r => (r._1, r._2)).map { case (name, rs) => name -> rs.length }
    val w = scala.collection.mutable.HashMap[(Long, Long), Long]()
    rows.foreach { case (repo, file, content) =>
      val src = vertexId(repo, file)
      content.split("\n", -1).filter(_.startsWith("import ")).foreach { line =>
        val parts = line.substring("import ".length).split("/", -1)
        val name = (parts.take(2).mkString("/"), parts.drop(2).mkString("/"))
        copies.get(name).foreach { c =>
          val dst = vertexId(name._1, name._2)
          if (dst != src) w((src, dst)) = w.getOrElse((src, dst), 0L) + c
        }
      }
    }
    edgeRows = w.iterator.map { case ((s, d), n) => (s, d, n.toDouble) }.toArray
      .sortBy(t => (t._1, t._2))
    graph = Reference.graph(edgeRows.map(_._1), edgeRows.map(_._2))
    val (r, it) = Reference.pagerank(graph); ranks = r; prIters = it
    prHalf = math.max(1, prIters / 2)
    ranksHalf = Reference.pagerank(graph, maxIter = prHalf)._1
    comps = Reference.components(graph)
    ccRounds = Reference.minLabelRounds(graph, 200)._2
    ccHalf = math.max(1, ccRounds / 2)
    compsHalf = Reference.minLabelRounds(graph, ccHalf)._1
    lpa = Reference.labelProp(graph, Workload.LpaRounds)
    triangles = Reference.triangles(graph)
  }

  def pass(p: Pass): Unit = {
    Seq(prDir, ccDir).foreach(d => wipe(new File(d)))
    val edges = p.call(edgeCall) {
      persisted(Corpus.deriveEdges(spark.read.parquet(corpusPath)))._1
    }
    edges.foreach(e => p.check(edgeCall) {
      val got = e.select(col("src"), col("dst"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
      expect(got.sameElements(edgeRows), s"edge table has ${got.length} rows, want " +
        s"${edgeRows.length}; first difference ${got.zipAll(edgeRows, null, null)
          .find { case (a, b) => a != b }.getOrElse("none")} (got, want)")
    })
    p.call("algos.PageRank")(
      PageRank.run(spark, need(edges), maxIter = p.iters(100))).foreach { res =>
      prMetrics(p.id) = res.metrics
      p.check("algos.PageRank") {
        expect(res.iterations == prIters, s"${res.iterations} iterations, want $prIters")
        expectRanks(res.ranks, graph, ranks)
      }
    }
    p.call("algos.ConnectedComponents")(
      ConnectedComponents.runCounted(spark, need(edges), maxIter = p.iters(200))).foreach {
      case (cc, n) =>
        rounds(p.id) = n
        p.check("algos.ConnectedComponents") {
          expect(n == ccRounds, s"$n rounds, want $ccRounds")
          expectLabels(cc, graph, comps)
        }
    }
    p.call("algos.LabelPropagation")(LabelPropagation.run(spark, need(edges),
        maxIter = p.iters(Workload.LpaRounds))).foreach { l =>
      p.check("algos.LabelPropagation")(expectLabels(l, graph, lpa))
    }
    p.call("algos.TriangleCount")(TriangleCount.run(spark, need(edges))).foreach { t =>
      p.check("algos.TriangleCount")(expect(t == triangles, s"$t triangles, want $triangles"))
    }

    p.call("algos.PageRank.ckpt")(PageRank.run(spark, need(edges), maxIter = p.iters(prHalf),
        checkpointDir = Some(prDir), checkpointEvery = every)).foreach { res =>
      p.check("algos.PageRank.ckpt") {
        expect(res.iterations == prHalf, s"${res.iterations} iterations, want $prHalf")
        expectRanks(res.ranks, graph, ranksHalf)
      }
    }
    val resumeIter = newestSnapshot(new File(prDir))
    p.call("algos.PageRank.resume")(PageRank.run(spark, need(edges), maxIter = p.iters(100),
        checkpointDir = Some(prDir), checkpointEvery = every)).foreach { res =>
      p.check("algos.PageRank.resume") {
        expect(res.iterations == prIters, s"resumed to ${res.iterations} iterations, want $prIters")
        expectRanks(res.ranks, graph, ranks)
      }
    }
    p.call("algos.ConnectedComponents.ckpt")(ConnectedComponents.runCounted(spark,
        need(edges), maxIter = p.iters(ccHalf), checkpointDir = Some(ccDir),
        checkpointEvery = every)).foreach { case (cc, n) =>
      p.check("algos.ConnectedComponents.ckpt") {
        expect(n == ccHalf, s"$n rounds, want $ccHalf")
        expectLabels(cc, graph, compsHalf)
      }
    }
    p.call("algos.ConnectedComponents.resume")(ConnectedComponents.runCounted(spark,
        need(edges), maxIter = p.iters(200), checkpointDir = Some(ccDir),
        checkpointEvery = every)).foreach { case (cc, n) =>
      p.check("algos.ConnectedComponents.resume") {
        expect(n == ccRounds - ccHalf, s"resumed for $n rounds, want ${ccRounds - ccHalf}")
        expectLabels(cc, graph, comps)
      }
    }
    val dirs = Seq(prDir, ccDir).map(new File(_))
    ckpt(p.id) = (dirs.map(du).sum / Tracer.MB, dirs.map(snapshots(_).size).sum.toDouble,
      resumeIter.toDouble)
  }

  private def vertexId(repo: String, file: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // xxhash64(repo, path): each column hashed with the previous hash as seed
    Seq(repo, file).foldLeft(42L)((h, v) =>
      XxHash64Function.hash(UTF8String.fromString(v), StringType, h))
  }

  private def wipe(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(wipe))
    f.delete()
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length()

  /** Iterations of the complete snapshots under `dir`. */
  private def snapshots(dir: File): Seq[Int] = Option(dir.listFiles).toSeq.flatten
    .filter(d => d.getName.startsWith("iter=") && new File(d, "_SUCCESS").exists())
    .map(_.getName.stripPrefix("iter=").toInt)

  private def newestSnapshot(dir: File): Int = snapshots(dir).foldLeft(0)(math.max)

  private def iterMsP50(p: Pass): Double = {
    val ms = prMetrics.getOrElse(p.id, Nil).map(_.millis.toDouble)
    // the first two iterations carry codegen and warm-up, as graft.Bench skips them
    Main.median(if (ms.size > 2) ms.drop(2) else ms)
  }

  override def layerFacts(p: Pass): Map[String, Double] = {
    val (mb, n, resume) = ckpt.getOrElse(p.id, (0.0, 0.0, 0.0))
    Map(
      "algos.PageRank.iters" -> prMetrics.get(p.id).map(_.size.toDouble).getOrElse(0.0),
      "algos.PageRank.iter_ms_p50" -> iterMsP50(p),
      "algos.PageRank.setup_s" -> (p.seconds("algos.PageRank") -
        prMetrics.getOrElse(p.id, Nil).map(_.millis).sum / 1000.0),
      "algos.ConnectedComponents.rounds" -> rounds.getOrElse(p.id, 0).toDouble,
      "corpus.deriveEdges.resolve_ratio" ->
        graph.m.toDouble / (Workload.CorpusFiles * Workload.CorpusFanout),
      "core.Checkpoint.write_mb" -> mb, "core.Checkpoint.snapshots" -> n,
      "core.Checkpoint.resume_iter" -> resume)
  }

  def callFigures(p: Pass): Seq[(String, Double, String)] = Seq(
    ("derive_edges_s", p.seconds(edgeCall), "s"),
    ("pagerank_s", p.seconds("algos.PageRank"), "s"),
    ("pagerank_eps_iter", graph.m / (iterMsP50(p) / 1000.0), "edges/s"),
    ("components_s", p.seconds("algos.ConnectedComponents"), "s"),
    ("labelprop_s", p.seconds("algos.LabelPropagation"), "s"),
    ("triangles_s", p.seconds("algos.TriangleCount"), "s"),
    ("checkpointed_s", p.seconds("algos.PageRank.ckpt") +
      p.seconds("algos.ConnectedComponents.ckpt"), "s"),
    ("resume_s", p.seconds("algos.PageRank.resume") +
      p.seconds("algos.ConnectedComponents.resume"), "s"))
}

/** Wedge- and probe-heavy, few iterations: triangles and the 4-truss of the
  * supplier co-occurrence graph of a seeded TPC-H-shaped line-item table.
  */
final class CoSupplier(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work, seed) {
  private val dir = path("tpch")
  private var graph: Reference.Graph = _
  private var pairs: Array[Long] = _ // expected edges as sorted src * n + dst keys
  private var triangles = 0L
  private var truss: Array[Long] = _

  private val edgeCall = "SparkEntry.edgesSup"

  /** Data work in hot loops: pass times stop falling after about three. */
  def warmUpPasses = 3

  /** Line items as (partkey, suppkey), uniform like the TPC-H generator, with
    * supplier keys relabelled by a seeded permutation of the same key range,
    * so ids stay small and non-negative and the engine takes the same
    * packed-key plan branch.
    */
  private def lineItems(): (Array[Long], Array[Long]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val perm = Array.tabulate(Workload.Suppliers)(_.toLong)
    for (i <- perm.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val pk = Array.fill(Workload.LineItems)(1L + rnd.nextInt(Workload.Parts))
    val sk = Array.fill(Workload.LineItems)(perm(rnd.nextInt(Workload.Suppliers)))
    (pk, sk)
  }

  def setup(): Unit = {
    import spark.implicits._
    val (pk, sk) = lineItems()
    pk.indices.map(i => (pk(i), sk(i))).toDF("l_partkey", "l_suppkey")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  def prepare(): Unit = {
    val (pk, sk) = lineItems()
    // expected co-supplier pairs a < b, straight from the generated rows
    val byPart = pk.indices.groupBy(i => pk(i)).values.map(_.map(sk).distinct.sorted)
    val src = Array.newBuilder[Long]; val dst = Array.newBuilder[Long]
    byPart.foreach { ss =>
      for (a <- ss.indices; b <- a + 1 until ss.length) { src += ss(a); dst += ss(b) }
    }
    graph = Reference.graph(src.result(), dst.result())
    pairs = graph.src.indices.map(i => graph.src(i).toLong * graph.n + graph.dst(i)).toArray.sorted
    triangles = Reference.triangles(graph)
    truss = Reference.ktruss(graph, 4)
  }

  private def keys(df: DataFrame, a: String, b: String): Array[Long] =
    df.select(col(a), col(b)).collect()
      .map(r => graph.index(r.getLong(0)).toLong * graph.n + graph.index(r.getLong(1))).sorted

  def pass(p: Pass): Unit = {
    val edges = p.call(edgeCall)(persisted(SparkEntry.edgesSup(spark, dir))._1)
    edges.foreach(e => p.check(edgeCall) {
      expect(keys(e, "src", "dst").sameElements(pairs), "co-supplier edges differ from the line items'")
    })
    p.call("algos.TriangleCount")(TriangleCount.run(spark, need(edges))).foreach { t =>
      p.check("algos.TriangleCount")(expect(t == triangles, s"$t triangles, want $triangles"))
    }
    p.call("algos.KTruss")(KTruss.run(spark, need(edges), k = 4)).foreach { kt =>
      p.check("algos.KTruss") {
        val got = keys(kt, "lo", "hi")
        expect(got.sameElements(truss), s"4-truss has ${got.length} edges, want ${truss.length}")
      }
    }
  }

  def callFigures(p: Pass): Seq[(String, Double, String)] = Seq(
    ("derive_edges_s", p.seconds(edgeCall), "s"),
    ("triangles_s", p.seconds("algos.TriangleCount"), "s"),
    ("ktruss_s", p.seconds("algos.KTruss"), "s"))
}
