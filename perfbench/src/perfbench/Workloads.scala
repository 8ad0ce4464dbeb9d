package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GoldenHashes, SparkEntry}
import graft.core.TsSchema
import graft.examples.DataPipeline
import graft.pipeline.{EvaluationPipeline, EvaluationResult, RegressionScorer, Scorer}
import graft.providers._
import graft.sources.Tables

/** One benchmark workload: a set of tables loaded at set-up and one call
  * that is timed. `call` returns what the call produced; `output` turns it
  * into the value the correctness checks compare, outside the timed region. */
trait Workload {
  type H
  def tables: Seq[String]
  def call(spark: SparkSession, tracer: Option[Tracer], k: Int): H
  def output(h: H): String
  /** The pinned output of this seed, if it has one. */
  def pinned(pins: Pins): Option[String]
  def same(out: String, expected: String): Boolean = out == expected
  /** Per-layer metrics of this workload's own layers for one traced call;
    * their names are `layerNames`. */
  def layerMetrics(t: CallTrace, h: H): Seq[(String, Double)]
  def layerNames: Seq[String]
  /** Latencies of the units of one call, when a call is more than one
    * unit; failed units are left out. The end-to-end metrics time whole
    * calls. */
  def unitTimes(h: H): Seq[Double] = Nil
  /** The failed units of one call, each with its error. */
  def failures(h: H): Seq[String] = Nil
  /** Output checks made once after the measured calls, untimed; a line
    * that does not start with "ok" fails the run. */
  def extraChecks(spark: SparkSession): Seq[String] = Nil
  /** Lines printed at the end of a run. */
  def summary(): Seq[String] = Nil
  def cleanup(h: H): Unit = ()
}

object Workload {

  /** Layer metrics of every workload: a run reports the other workloads'
    * layers as 0, since its call never enters them. */
  def allLayerNames: Seq[String] =
    TstrEval.LayerNames ++ Curate.LayerNames ++ OperatorMix.LayerNames

  def forName(name: String, cfg: Config, seed: Long): Workload = name match {
    case "tstr_eval" => new TstrEval(cfg, seed)
    case "curate" => new Curate(cfg, seed)
    case "operator_mix" => new OperatorMix(cfg, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Seeded permutation (Fisher-Yates on java.util.Random). */
  def shuffle[T](xs: Seq[T], seed: Long): Seq[T] = {
    val rnd = new java.util.Random(seed)
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.map(_.asInstanceOf[T])
  }

  /** Bytes of the regular files under `dir` whose name starts with `prefix`. */
  def dirBytes(dir: String, prefix: String = ""): Long = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith(prefix))
        .map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = new File(dir).toPath
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach((p: Path) => Files.delete(p))
      finally s.close()
    }
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** The paper's end-to-end call: fit four generators, score each TSTR,
  * pick the best. */
final class TstrEval(cfg: Config, seed: Long) extends Workload {
  import TstrEval._
  val tables = Seq("events")
  val providerOrder: Seq[String] = Workload.shuffle(Providers, seed)
  private val schema =
    TsSchema(Seq("user_id"), "ts", Seq("value"), Seq("event_type"))

  final case class H(result: EvaluationResult, arrowDir: String)

  private def provider(name: String, arrowDir: String): GeneratorProvider =
    name match {
      case "process" => new ProcessProvider(
        Seq("python3", "scripts/worker.py", "ar"),
        dataPlane = ProcessProvider.Arrow, arrowDir = Some(arrowDir))
      case builtin => GeneratorProvider.forName(builtin)
    }

  def call(spark: SparkSession, tracer: Option[Tracer], k: Int): H = {
    val events = Tables.load(spark, cfg.data, "events")
      .filter(col("user_id") % UserMod < UserKeep)
    val arrowDir = s"${cfg.work}/arrow-$k"
    new File(arrowDir).mkdirs() // ProcessProvider writes into, never creates, it
    val plain = ListMap(providerOrder.map(n => n -> provider(n, arrowDir)): _*)
    val scorer: Scorer = new RegressionScorer(seqLen = 8, numSequences = 64)
    val pipeline = tracer match {
      case None => new EvaluationPipeline(plain, scorer, Iterations)
      case Some(t) => new EvaluationPipeline(
        plain.map { case (n, p) => n -> (new TracedProvider(p, t): GeneratorProvider) },
        new TracedScorer(scorer, t), Iterations)
    }
    val result = tracer.fold(pipeline.fit(events, schema))(
      _.span("pipeline.fit")(pipeline.fit(events, schema)))
    H(result, arrowDir)
  }

  /** The (generator, iteration) scores and the best generator. */
  def output(h: H): String = {
    val r = h.result
    val scores = r.metrics.collect()
      .map(x => s"${x.getString(0)}/${x.getInt(1)}=${x.getDouble(3)}").sorted
    (scores :+ s"best=${r.bestGenerator.getOrElse("")}").mkString(";")
  }

  def pinned(pins: Pins): Option[String] = Some(pins.tstrEval)

  /** Scores compared within 1e-9 relative: the exact bits move with the
    * partition count, the result does not. */
  override def same(out: String, expected: String): Boolean = {
    def parse(s: String) = s.split(";").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val (x, y) = (parse(out), parse(expected))
    x.keySet == y.keySet && x.forall {
      case ("best", v) => y("best") == v
      case (k, v) =>
        val (p, q) = (v.toDouble, y(k).toDouble)
        math.abs(p - q) <= RelTol * math.max(math.abs(p), math.abs(q))
    }
  }

  def layerNames: Seq[String] = LayerNames

  def layerMetrics(t: CallTrace, h: H): Seq[(String, Double)] = {
    val scores = t.named("pipeline.score")
    Seq(
      "pipeline.fit_self_s" -> t.selfS(t.named("pipeline.fit").head),
      "pipeline.score_s" -> scores.map(t.selfS).sum,
      "pipeline.score_jobs" -> scores.map(_.jobs).sum.toDouble / scores.size,
      "providers.process.arrow_mb" -> Workload.dirBytes(h.arrowDir) / 1e6) ++
      Providers.flatMap(p => Seq(
        s"providers.fit_s.$p" -> t.named(s"providers.fit.$p").map(_.durS).sum,
        s"providers.generate_s.$p" ->
          t.named(s"providers.generate.$p").map(_.durS).sum))
  }

  override def cleanup(h: H): Unit = Workload.deleteTree(h.arrowDir)
}

object TstrEval {
  val Providers = Seq("statistical", "bootstrap", "ar", "process")
  /** One TSTR iteration per generator: the scorer is deterministic, so
    * further iterations repeat the same jobs and scores, and three of them
    * (about 15 s a call on 4 cores) would not fit the run budget. */
  val Iterations = 1
  /** The entities with user_id mod 20 < 3: 225 of the 1,500 in sf0.1's
    * events, 14,931 of its 100,000 rows. */
  val UserMod = 20
  val UserKeep = 3
  val LayerNames: Seq[String] = Seq("pipeline.fit_self_s", "pipeline.score_s",
    "pipeline.score_jobs", "providers.process.arrow_mb") ++
    Providers.flatMap(p => Seq(s"providers.fit_s.$p", s"providers.generate_s.$p"))
  val RelTol = 1e-9
}

final class TracedProvider(p: GeneratorProvider, t: Tracer) extends GeneratorProvider {
  def name: String = p.name
  def fit(data: DataFrame, schema: TsSchema): FittedGenerator = {
    val f = t.span(s"providers.fit.$name")(p.fit(data, schema))
    new FittedGenerator {
      def generate(spark: SparkSession, n: Int, seqLen: Int): DataFrame =
        t.span(s"providers.generate.$name")(f.generate(spark, n, seqLen))
    }
  }
}

final class TracedScorer(s: Scorer, t: Tracer) extends Scorer {
  def metricKey: String = s.metricKey
  def score(real: DataFrame, model: FittedGenerator, schema: TsSchema): Double =
    t.span("pipeline.score")(s.score(real, model, schema))
}

/** Corpus curation to training shards on disk: `DataPipeline.curate`
  * against a seeded eval-suite slice, then `prepareTrainingToFiles`. */
final class Curate(cfg: Config, seed: Long) extends Workload {
  val tables = Seq("documents", "embeddings")
  /** The eval suite is the doc_id ≡ slice (mod 41) slice; 16 slices, all
    * pinned, so every seed has pinned output. */
  val slice: Int = Math.floorMod(seed, Curate.Slices.toLong).toInt

  final case class H(curated: DataFrame, outDir: String)

  def call(spark: SparkSession, tracer: Option[Tracer], k: Int): H = {
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val docs = Tables.load(spark, cfg.data, "documents")
    val emb = Tables.load(spark, cfg.data, "embeddings")
    val bench = docs.filter(col("doc_id") % 41 === slice)
    val outDir = s"${cfg.work}/shards-$k"
    val (curated, _, _) = span("examples.curate")(
      DataPipeline.curate(docs, emb, benchmark = Some(bench)))
    span("examples.prepare")(DataPipeline.prepareTrainingToFiles(curated, outDir))
    H(curated, outDir)
  }

  /** Content hash of the written (doc_id, shard, pos) rows, then the
    * funnel counts, which must repeat exactly: docs in, docs curated, rows
    * and parquet bytes written. */
  def output(h: H): String = {
    val spark = h.curated.sparkSession
    val written = spark.read.parquet(h.outDir).select("doc_id", "shard", "pos")
      .collect().map(r => s"${r.getLong(0)},${r.get(1)},${r.get(2)}").sorted
    Seq(
      "rows_hash" -> Workload.sha256(written.mkString("\n")),
      "docs_in" -> Tables.load(spark, cfg.data, "documents").count(),
      "docs_curated" -> h.curated.count(),
      "rows_written" -> written.length,
      "bytes_written" -> Workload.dirBytes(h.outDir, "part-"))
      .map { case (k, v) => s"$k=$v" }.mkString(";")
  }

  def pinned(pins: Pins): Option[String] = pins.curate.get(slice)

  def layerNames: Seq[String] = Curate.LayerNames

  def layerMetrics(t: CallTrace, h: H): Seq[(String, Double)] = {
    val curate = t.named("examples.curate").head
    val prepare = t.named("examples.prepare").head
    val writeS = prepare.writeMs / 1000.0
    Seq(
      "examples.curate.construct_s" -> curate.durS,
      "examples.curate.construct_jobs" -> curate.jobs.toDouble,
      "examples.prepare.construct_s" -> (prepare.durS - writeS),
      "examples.write_s" -> writeS)
  }

  override def cleanup(h: H): Unit = Workload.deleteTree(h.outDir)
}

object Curate {
  val Slices = 16
  val LayerNames: Seq[String] = Seq("examples.curate.construct_s",
    "examples.curate.construct_jobs", "examples.prepare.construct_s",
    "examples.write_s")
}

/** The read-only query surface: a fixed subset of `SparkEntry.queries`,
  * each built from the registry and `count()`ed, in seeded order. One call
  * is one pass over the subset; its units are the queries. */
final class OperatorMix(cfg: Config, seed: Long) extends Workload {
  import OperatorMix._
  val tables = Seq("events", "documents", "embeddings")
  val order: Seq[String] = Workload.shuffle(Queries, seed)

  /** Per query: its row count or error and its build+count latency; and
    * the RDDs the eager-construction queries persisted, which the caller
    * owns. */
  final case class H(results: Seq[(String, Either[String, Long], Double)],
      persisted: Seq[org.apache.spark.rdd.RDD[_]])

  private val latencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def call(spark: SparkSession, tracer: Option[Tracer], k: Int): H = {
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val persisted = mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]()
    val results = order.map { q =>
      val before = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val res =
        try Right(span(family(q)) {
          val df = span("registry.construct")(registry(q)(spark, cfg.data))
          df.count()
        })
        catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val s = (System.nanoTime() - t0) / 1e9
      if (SparkEntry.eagerConstruction(q))
        persisted ++= sc.getPersistentRDDs.collect { case (id, r) if !before(id) => r }
      if (res.isRight) latencies.getOrElseUpdate(q, mutable.ArrayBuffer()) += s
      (q, res, s)
    }
    H(results.toSeq, persisted.toSeq)
  }

  /** The row count of every query, by name. */
  def output(h: H): String = h.results.sortBy(_._1).map { case (q, r, _) =>
    s"$q=${r.fold(_ => "FAILED", _.toString)}" }.mkString(";")

  def pinned(pins: Pins): Option[String] =
    Some(Queries.sorted.map(q => s"$q=${pins.operatorMix.getOrElse(q, "unpinned")}").mkString(";"))

  override def unitTimes(h: H): Seq[Double] = h.results.collect { case (_, Right(_), s) => s }
  override def failures(h: H): Seq[String] = h.results.collect { case (q, Left(e), _) => s"$q: $e" }

  /** The subset's `GoldenHashes.queries` against the committed goldens of
    * the data directory's scale factor. */
  override def extraChecks(spark: SparkSession): Seq[String] = {
    val sf = new File(cfg.data).getName
    Queries.filter(q => GoldenHashes.queries.contains(q) &&
        GoldenHashes.expected.get(sf).exists(_.contains(q))).map { q =>
      val (got, exp, ok) = GoldenHashes.check(q, sf, SparkEntry.queries(q)(spark, cfg.data))
      if (ok) s"ok golden $q" else s"GOLDEN MISMATCH $q: $got, expected ${exp.getOrElse("")}"
    }
  }

  override def summary(): Seq[String] =
    "query                                first_s   warm_p50_s" +:
      latencies.toSeq.sortBy(_._1).map { case (q, ls) =>
        f"$q%-36s ${ls.head}%8.3f ${Main.median(ls.drop(1 + Main.WarmUps).toSeq)}%11.3f" }

  def layerNames: Seq[String] = LayerNames

  def layerMetrics(t: CallTrace, h: H): Seq[(String, Double)] = {
    val construct = t.named("registry.construct").map(_.durS)
    Seq(
      "registry.construct_s_p50" -> Main.median(construct),
      "registry.construct_s_total" -> construct.sum,
      "registry.query_s_p50" -> Main.median(unitTimes(h)),
      "registry.query_s_p90" -> Main.quantile(unitTimes(h), 0.9)) ++
      Families.map(f => s"${f}_s" -> t.spans.filter(_.name == f).map(_.durS).sum)
  }

  override def cleanup(h: H): Unit = h.persisted.foreach(_.unpersist(blocking = false))
}

object OperatorMix {
  /** One query or more of every family, seven of them `GoldenHashes`
    * members with an sf0.1 golden; sized so that a warm pass takes about
    * 5 s on 4 cores. */
  val Queries: Seq[String] = Seq(
    // ops: reference-parity operators over events
    "a3_resample_sum", "f1_dates", "f16_regex", "j4_asof", "o11_global_rank",
    "p12_shard_assign", "w8_session",
    "dedup_exact", "dedup_simhash",
    "text_compression", "text_quality", "text_bpe",
    "sim_topk", "sim_lsh_topk",
    "ret_tfidf",
    "mm_features_jpeg", "mm_features_png", "mm_audio_adpcm", "mm_video_mjpeg",
    "url_domain_stats",
    "warc_ingest", "warc_media_ingest",
    "pipeline_pack")

  /** The layer a query's busy time is charged to, by name prefix. */
  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "dedup" => "ext.dedup"
    case "text" => "ext.text"
    case "sim" => "ext.sim"
    case "ret" => "ext.ret"
    case "mm" => "ext.mm"
    case "url" => "ext.url"
    case "warc" => "sources.warc"
    case "pipeline" => "examples.pipeline"
    case p if p.matches("[afjopquw][0-9]+") => "ops.busy"
    case _ => throw new IllegalArgumentException(s"no family for query $q")
  }

  val Families: Seq[String] = Seq("ops.busy", "ext.dedup", "ext.text", "ext.sim",
    "ext.ret", "ext.mm", "ext.url", "sources.warc", "examples.pipeline")

  val LayerNames: Seq[String] = Seq("registry.construct_s_p50",
    "registry.construct_s_total", "registry.query_s_p50", "registry.query_s_p90") ++
    Families.map(_ + "_s")
}
