package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.SparkEntry
import graft.modules.CorpusModule
import graft.operators.{Components, Dedup}
import graft.streaming.Streams

/** Order-independent digest of a frame: row count plus the sum of
  * xxhash64 over every column, so the action reads every output column
  * (a bare count() would let column pruning drop computed columns). */
final case class Digest(rows: Long, hash: java.math.BigDecimal)

object Digest {
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c)) // maps are not hashable
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
  }
  /** Runs `agg` through its own query execution (not head()'s limit-1
    * copy), so a plan forced beforehand is the plan that runs. */
  def read(agg: DataFrame): Digest = {
    val r = agg.collect().head
    Digest(r.getLong(0), r.getDecimal(1))
  }
  def of(df: DataFrame): Digest = read(frame(df))
}

/** One unit of timed work. `prepare` runs untimed just before it. `run`
  * returns whether the output matched its reference and did real work. */
final case class Op(label: String, rows: Long, run: () => Boolean,
    prepare: () => Unit = () => ())

final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  /** Set-up check failures; any one makes the run incorrect. */
  val problems = scala.collection.mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  private val t0 = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")
}

trait Workload {
  /** What the inputs are, for the record's stamp. */
  def identity: String
  /** The ops of one round; every round does the same work. */
  def round(): Seq[Op]
  /** Set-up of the probes, run untraced just before them. */
  def probeSetup(): Unit = ()
  /** Per-layer probes, run once after a traced run's last round, outside any op. */
  def probe(): Unit = ()
  /** Per-layer values the spans and listeners cannot give, per traced op. */
  def layerValues: Map[String, Double] = Map.empty
}

/** `query_mix`: declared queries over the seeded sf-shaped tables. */
final class QueryMix(ctx: Ctx, sfDir: String, oracleDir: String, names: Seq[String], seed: Long)
    extends Workload {
  import ctx.spark
  val identity = s"query_mix sf0.01-shaped tables, queries ${names.mkString(",")}"
  private val order = new scala.util.Random(seed).shuffle(names)

  private val tableRows: Map[String, Long] = graft.sources.Tables.all.map { t =>
    t -> spark.read.parquet(s"$sfDir/$t.parquet").count()
  }.toMap

  /** Input rows of a query: rows of every table its plan scans. */
  private def inputRows(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
      case _ => Nil
    }.distinct.map(tableRows.getOrElse(_, 0L)).sum
  }

  // set-up: each result once to parquet for the DuckDB oracle, and its digest
  private val (expected, rows) = {
    val oracle = SparkEntry.oracleSql
    names.foreach(n => ctx.check(oracle.contains(n), s"$n has no oracle SQL"))
    val res = names.flatMap { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val rows = inputRows(df)
        val cut = df.localCheckpoint(eager = true) // run the query once
        cut.write.mode("overwrite").parquet(s"$oracleDir/$n")
        Some((n -> Digest.of(cut), n -> rows))
      } catch { case scala.util.control.NonFatal(e) =>
        ctx.check(false, s"$n failed at set-up: $e"); None }
    }
    val json = res.map(_._1._1).filter(oracle.contains).map { n =>
      s"${Json.str(n)}: ${Json.str(oracle(n))}" }.mkString("{", ",\n", "}")
    Files.createDirectories(Paths.get(oracleDir))
    Files.write(Paths.get(oracleDir, "oracle_sql.json"), json.getBytes("UTF-8"))
    ctx.phase("query results written")
    (res.map(_._1).toMap, res.map(_._2).toMap)
  }

  def round(): Seq[Op] = order.filter(expected.contains).map { n =>
    Op(n, rows(n), () => {
      val df = ctx.span("queries.build")(SparkEntry.queries(n)(spark, sfDir))
      val agg = Digest.frame(df)
      ctx.span("queries.plan")(agg.queryExecution.executedPlan)
      ctx.span("queries.exec")(Digest.read(agg)) == expected(n)
    })
  }
}

/** `corpus_batch`: one `Graph.run` of the corpus module with near-dup over
  * the generated docs in `dir`. */
final class CorpusBatch(ctx: Ctx, dir: String) extends Workload {
  import ctx.spark
  private val docs = spark.read.parquet(s"$dir/docs")
  private val eval = spark.read.parquet(s"$dir/eval")
  private val nRows = docs.count()
  val identity = s"corpus_batch docs=$nRows eval=${eval.count()}"
  private def graph = CorpusModule.graph(langs = Seq("en"), benchmark = Some(eval),
    nearDupJaccard = Some(0.8))

  // reference: brute-force Jaccard over the en docs entering near-dup,
  // checked against the module's near-dup pipe on the same (cut) input
  private val expected = {
    val out = graph.run(Map("docs" -> docs))
    val cut = out("deduped").localCheckpoint(eager = true)
    val deduped = cut.select("id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val (survivors, pairs) = Reference.nearDupSurvivors(deduped, 0.8)
    val got = CorpusModule.nearDedupe(cut, 0.8).select("id").collect().map(_.getLong(0)).toSet
    ctx.check(got == survivors, s"near-dup survivors: got ${got.size}, " +
      s"reference ${survivors.size}")
    ctx.check(pairs >= nRows / 80, s"too few planted near-dup pairs found: $pairs")
    val kept = Digest.of(out("kept"))
    ctx.check(kept.rows > 0, "the module kept no rows")
    ctx.phase("reference checked")
    kept
  }

  def round(): Seq[Op] = Seq(Op("corpus_batch", nRows, () => {
    val out = ctx.span("engine.wire")(graph.run(Map("docs" -> docs)))
    ctx.span("engine.sink")(Digest.of(out("kept"))) == expected
  }))

  // probes: each public pipe on a cut (materialized) input, so each time is
  // its own; then the iterative operators over power-law edges. Each call's
  // digest is taken at probe set-up and must match when timed.
  private var calls: Seq[(String, () => DataFrame, Digest)] = Nil
  private var ingest: CorpusIngest = _

  override def probeSetup(): Unit = {
    def cut(df: DataFrame) = df.localCheckpoint(eager = true)
    val g = CorpusModule.graph(langs = Seq("en"), benchmark = Some(eval)).run(Map("docs" -> docs))
    val Seq(gated, decon, scrubbed, deduped) =
      Seq("gated", "decontaminated", "scrubbed", "deduped").map(n => cut(g(n)))
    val pairs = cut(Dedup.jaccardPairs(deduped, "id", "lang", "text", 0.8))
    val near = cut(CorpusModule.nearDedupe(deduped, 0.8))
    val edges = spark.read.parquet(s"$dir/edges")
    calls = Seq[(String, () => DataFrame)](
      "modules.decontaminate" -> (() => Dedup.decontaminate(gated, eval, "id", "text", 5)),
      "modules.scrub" -> (() => CorpusModule.scrub(decon)),
      "modules.dedupe" -> (() => CorpusModule.dedupe(scrubbed)),
      "dedup.pairs" -> (() => Dedup.jaccardPairs(deduped, "id", "lang", "text", 0.8)),
      "components.keepers" -> (() => Components.keepClusterKeepers(deduped, "id", pairs, "da", "db")),
      "modules.neardedupe" -> (() => CorpusModule.nearDedupe(deduped, 0.8)),
      "modules.score" -> (() => CorpusModule.score(near)),
      "components.cc" -> (() => Components.connectedComponents(edges)),
      "components.lpa" -> (() => Components.labelPropagation(edges)),
      "components.pagerank" -> (() => Components.pageRank(edges)),
      "components.bfs" -> (() => Components.bfsDistances(edges, source = 1L))
    ).map { case (n, f) => (n, f, Digest.of(f())) }
    // reference: union-find over the same edges, without Spark
    val want = Reference.components(edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val got = Components.connectedComponents(edges).select("id", "comp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ctx.check(got == want, s"connected components: got ${got.values.toSet.size} " +
      s"components over ${got.size} vertices, reference ${want.values.toSet.size} over ${want.size}")
    ingest = new CorpusIngest(ctx, s"$dir/ingest", eval)
  }

  private var pairsOut = 0.0
  private var candidates = 0.0
  private var probes = 0
  override def probe(): Unit = {
    calls.foreach { case (n, f, want) =>
      val (agg, got) = ctx.span(n) { val agg = Digest.frame(f()); (agg, Digest.read(agg)) }
      ctx.check(got == want, s"probe $n output differs from its set-up digest")
      if (n == "dedup.pairs") {
        pairsOut += got.rows
        candidates += PlanRows.aggregateOut(agg, Set("da", "db"))
      }
    }
    // the streaming path: one fresh block through a resumed corpusIngest
    val op = ingest.op()
    op.prepare()
    ctx.check(ctx.span("streaming.resume")(op.run()), "ingest probe output differs from batch")
    probes += 1
  }

  override def layerValues: Map[String, Double] =
    if (probes == 0) Map.empty
    else ingest.layerValues ++ Map("dedup.pairs_out" -> pairsOut / probes,
      "dedup.pair_yield" -> (if (candidates > 0) pairsOut / candidates else 0.0))
}

/** Row counts a query's operators reported once it ran, read from its
  * executed plan (through adaptive query stages). */
object PlanRows extends AdaptiveSparkPlanHelper {
  /** Output rows of the final-mode hash aggregates grouped by all of `keys`:
    * for [[Dedup.jaccardPairs]], the candidate pairs (same group, at least
    * one shared token) that reach the Jaccard filter. */
  def aggregateOut(agg: DataFrame, keys: Set[String]): Long =
    collect(agg.queryExecution.executedPlan) {
      case a: HashAggregateExec
          if keys.subsetOf(a.groupingExpressions.map(_.name).toSet) &&
            a.aggregateExpressions.forall(_.mode == Final) =>
        a.metrics("numOutputRows").value
    }.sum
}

/** The ingest path a traced `corpus_batch` run probes: one fresh block per
  * op through a resumed `Streams.corpusIngest` over the same, growing
  * directories. `dir` holds the docs of the first blocks and a pool of
  * fresh blocks that ops land in turn. */
final class CorpusIngest(ctx: Ctx, dir: String, eval: DataFrame) {
  import ctx.spark
  private val nBlocks = 2
  private val docs = spark.read.parquet(s"$dir/docs")
  private val graph = CorpusModule.graph(langs = Seq("en"), benchmark = Some(eval))
  private val pool: IndexedSeq[(Path, Digest, Long)] = {
    val dirs = Files.list(Paths.get(dir, "pool"))
    try dirs.iterator().asScala.toIndexedSeq.sortBy(_.getFileName.toString) finally dirs.close()
  }.map { p =>
    val block = spark.read.parquet(p.toString)
    // reference: a batch Graph.run over the same block
    (p, Digest.of(graph.run(Map("docs" -> block))("kept")), block.count())
  }
  private val (src, kept, ckpt, log) =
    (s"$dir/src", s"$dir/kept", s"$dir/ckpt", s"$dir/log")
  private def ingest(): Long = Streams.corpusIngest(docs, graph, src, kept, ckpt, log, nBlocks)._2

  locally {
    val n = ingest()
    ctx.check(n == nBlocks, s"initial ingest ran $n micro-batches, expected $nBlocks")
    ctx.phase("initial blocks ingested")
  }
  private var landed = 0 // fresh blocks landed after the initial ones

  private def landNext(): Unit = {
    val (from, _, _) = pool(landed % pool.size)
    val to = Paths.get(src, s"p${nBlocks + landed}")
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    finally s.close()
    landed += 1
  }

  private var logBytes = 0.0
  private var ops = 0
  private def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    finally s.close()
  }

  /** Lands the next block (in `prepare`), then resumes the ingest, which
    * must run exactly one micro-batch whose output matches the batch run. */
  def op(): Op = {
    val k = landed // the block this op's prepare lands
    val (_, want, rows) = pool(k % pool.size)
    Op("corpus_ingest", rows, prepare = () => landNext(), run = () => {
      val n = ctx.span("streaming.ingest")(ingest())
      val got = ctx.span("sources.readback")(
        Digest.of(spark.read.parquet(s"$kept/batch=${nBlocks + k}")))
      if (ctx.tracer.on) { logBytes += dirBytes(log); ops += 1 }
      n == 1 && got == want
    })
  }

  def layerValues: Map[String, Double] =
    if (ops == 0) Map.empty else Map("engine.log_bytes" -> logBytes / ops)
}
