package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.Checkpoint
import graft.extract.Extraction
import graft.graph.Materialize
import graft.ingest.Transcripts
import graft.link.{Canonicalize, MinHashBlocking}
import graft.pipeline.{Incremental, KGPipeline}
import graft.schemadisc.SchemaDiscovery

/**
 * One benchmark JVM. `run.py` starts a fresh one per measurement and
 * passes `key=value` arguments:
 *
 *   mode      setup (set up, report, exit) | run (cold pass, then warm
 *             passes for `seconds`) | trace (two untraced passes, then a
 *             traced one)
 *   kind      batch | incremental
 *   fixture   directory written by gen.py
 *   out       file the JSON result goes to
 *   launched  epoch seconds at which run.py started this JVM
 *   threads, partitions, seconds, increments, replay, fact_turns,
 *   true_pairs, local_dir
 *
 * Set-up ends when the session is ready and the input is opened; the
 * engine is called only through its public functions and is not
 * instrumented.
 */
object Main {

  final case class Outputs(triples: Set[Checks.Triple],
                           entities: Map[Checks.MentionKey, Long])

  final case class Golden(triples: Set[Checks.Triple], mentions: Map[Checks.MentionKey, String])

  private var failures = 0
  private var attempted = 0

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val spark = SparkSession.builder()
      .master(s"local[${a("threads")}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a("partitions"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fixture = a("fixture")
    val incremental = a("kind") == "incremental"
    val increments = a("increments").toInt
    val inputs: Seq[DataFrame] =
      if (incremental) (0 until increments).map(k => Transcripts.read(spark, s"$fixture/inc_$k"))
      else Seq(Transcripts.read(spark, s"$fixture/transcripts"))
    inputs.foreach(_.schema)
    val setupS = System.currentTimeMillis() / 1e3 - a("launched").toDouble

    val out = new StringBuilder
    def put(k: String, v: Double): Unit = out ++= s""""$k":$v,"""
    put("setup_s", setupS)
    put("load1_start", load1)

    if (a("mode") != "setup") {
      val collector = new Collector(spark.sparkContext)
      // increments in order, then the seeded replay of one of them
      val order = (0 until increments) :+ a("replay").toInt
      val stateRoot = Paths.get(a("local_dir"), "state")
      def pass(): Outputs =
        if (incremental) incrementalPass(spark, inputs, order, freshDir(stateRoot))
        else batchPass(spark, inputs.head)
      lazy val golden = loadGolden(spark, fixture)
      def check(o: Outputs): (Checks.Score, Checks.Score) = {
        val t = Checks.triplePR(o.triples, golden.triples)
        val c = Checks.clusterPR(o.entities, golden.mentions)
        attempted += 1
        if (!t.passes || !c.passes) failures += 1
        (t, c)
      }

      if (a("mode") == "run") {
        val seconds = a("seconds").toDouble
        val tMeasure = System.nanoTime()
        val (coldS, cold) = timed(pass())
        val (retained, peak) = collector.store()
        val (t, c) = check(cold)
        if (incremental) {
          attempted += 1
          if (Checkpoint.readMerged(spark, lastState(stateRoot), "inc_triples").count() !=
              a("fact_turns").toLong) failures += 1
        }
        spark.catalog.clearCache()
        val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
        while (warm.isEmpty || (System.nanoTime() - tMeasure) / 1e9 < seconds) {
          val (s, o) = timed(pass())
          warm += s
          check(o)
          spark.catalog.clearCache()
        }
        put("cold_wall_s", coldS)
        put("warm_wall_s", median(warm.toSeq))
        put("warm_passes", warm.size.toDouble)
        put("triple_precision", t.precision)
        put("triple_recall", t.recall)
        put("cluster_precision", c.precision)
        put("cluster_recall", c.recall)
        put("peak_store_mib", peak / 1048576.0)
        put("retained_store_mib", retained / 1048576.0)
        put("cpu_probe_s", cpuProbe(spark))
      } else {
        // warm the JVM with an untraced pass, time a second one as the
        // reference, then trace a third: overhead compares like with like
        check(pass())
        spark.catalog.clearCache()
        val (untracedS, o1) = timed(pass())
        check(o1)
        spark.catalog.clearCache()
        val spans = new Spans(spark.sparkContext, s"${a("kind")}-${System.currentTimeMillis()}")
        val layers = new Layers(spark, collector, spans)
        val o =
          if (incremental) layers.incrementalPass(inputs, order, freshDir(stateRoot))
          else layers.batchPass(inputs.head)
        check(o)
        val traced = spans.recorded.filter(_.parent < 0).map(_.seconds).sum
        put("trace.overhead_s", traced - untracedS)
        layers.pairRecall(golden.mentions, a("true_pairs").toLong)
        if (incremental) layers.stateRatio(
          Paths.get(fixture), increments, Paths.get(lastState(stateRoot), "inc_triples"))
        layers.metrics.foreach { case (k, v) => put(k, v) }
        Files.writeString(Paths.get(a("spans")), spans.toJsonLines)
      }
      put("attempted", attempted.toDouble)
      put("failed", failures.toDouble)
    }
    put("load1_end", load1)
    out.setLength(out.length - 1)
    Files.writeString(Paths.get(a("out")), "{" + out.toString + "}\n")
    spark.stop()
  }

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** What a batch user takes from a spark-submit run (`SparkEntry.entry`):
    * the pipeline under its session config (no `spark.graft.*` keys set, so
    * the defaults), the triple set collected; the mention clustering is
    * collected too, for the cluster check. */
  def outputs(spark: SparkSession)(run: KGPipeline.Config => KGPipeline.Result): Outputs = {
    val r = run(KGPipeline.Config.fromSession(spark))
    collectOutputs(r.tripleSet, r.entities)
  }

  def collectOutputs(tripleSet: DataFrame, entities: DataFrame): Outputs = Outputs(
    tripleSet.select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet,
    entities.select("mention_type", "norm", "canonical_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)

  def batchPass(spark: SparkSession, transcripts: DataFrame): Outputs =
    outputs(spark)(KGPipeline.run(spark, transcripts, _))

  def incrementalPass(spark: SparkSession, increments: Seq[DataFrame], order: Seq[Int],
                      stateDir: String): Outputs = {
    order.foreach(k => Incremental.ingest(spark, stateDir, increments(k)))
    outputs(spark)(Incremental.finalizeGraph(spark, stateDir, _))
  }

  def loadGolden(spark: SparkSession, fixture: String): Golden = Golden(
    spark.read.parquet(s"$fixture/golden_triples.parquet").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet,
    spark.read.parquet(s"$fixture/golden_mentions.parquet").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap)

  private var stateCount = 0
  /** A new state directory per incremental pass (under the JVM's own
    * scratch directory, which starts empty). */
  def freshDir(root: Path): String = {
    stateCount += 1
    Files.createDirectories(root.resolve(s"pass_$stateCount")).toString
  }
  def lastState(root: Path): String = root.resolve(s"pass_$stateCount").toString

  def load1: Double =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** Fixed pure-CPU Spark job, the frozen Bench's probe at a quarter of
    * its size: tells a slow host apart from a slower engine. */
  def cpuProbe(spark: SparkSession): Double = timed {
    spark.range(0, 500000L, 1, spark.sparkContext.defaultParallelism * 4)
      .select(sum(pmod(xxhash64(sha2(col("id").cast("string"), 256)), lit(1000000007L))))
      .head()
  }._1
}

/**
 * The traced pass: every public call of the pipeline in its own span and
 * job group, its output cut eagerly so the span holds its own work and no
 * later span recomputes it. The calls and arguments mirror
 * [[KGPipeline.run]], [[KGPipeline.runFromTriples]] and [[Incremental]].
 */
final class Layers(spark: SparkSession, collector: Collector, spans: Spans) {
  private val cfg = KGPipeline.Config()
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var found: Seq[(Checks.MentionKey, Checks.MentionKey)] = Nil

  /** Run `body` as a bench-side job outside every span's job group. */
  private def sideJob[T](body: => T): T = {
    val sc = spark.sparkContext
    val group = sc.getLocalProperty(org.apache.spark.perfbench.ListenerBus.JobGroupId)
    sc.setJobGroup("bench", "bench")
    try body finally { if (group == null) sc.clearJobGroup() else sc.setJobGroup(group, group) }
  }

  private val cuts = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]

  /** The outputs of one span, each cut eagerly inside it. */
  private def cutAll(span: String)(dfs: => Seq[DataFrame]): Seq[DataFrame] = {
    val cs = spans(span)(dfs.map(_.localCheckpoint(eager = true)))
    cuts ++= cs.map(span -> _)
    cs
  }

  private def cut(span: String)(df: => DataFrame): DataFrame = cutAll(span)(Seq(df)).head

  private def std(span: String): Unit = {
    val t = collector.totals(span)
    metrics(s"$span.wall_s") = spans.wall(span)
    metrics(s"$span.task_cpu_s") = t.cpuS
    metrics(s"$span.tasks") = t.tasks.toDouble
    metrics(s"$span.shuffle_write_mib") = t.shuffleWriteBytes / 1048576.0
    metrics(s"$span.spill_mib") = t.spillBytes / 1048576.0
    metrics(s"$span.gc_s") = t.gcS
    metrics(s"$span.rows_out") = cuts.collect { case (`span`, df) => df.count() }.sum.toDouble
  }

  private def downstream(triplesRaw: DataFrame): Main.Outputs = {
    val mentions = cut("extract.mentions") {
      Extraction.mentions(triplesRaw)
        .withColumn("shingles", MinHashBlocking.shingles(col("norm"), cfg.shingleSize))
    }
    val pairs = cut("link.candidatePairs") {
      MinHashBlocking.candidatePairs(mentions, "mention_id", "shingles",
        threshold = cfg.jaccardThreshold, extraKey = Seq("mention_type"),
        maxBucket = cfg.maxBucket)
    }
    val entities = cut("link.entities") {
      Canonicalize.entities(mentions.drop("shingles"), pairs)
    }
    val canonical = cut("link.canonicalTriples") {
      Canonicalize.canonicalTriples(triplesRaw, entities)
    }
    val tripleSet = cutAll("graph.materialize")(Seq(
      Materialize.nodes(canonical, entities), Materialize.edges(canonical),
      Materialize.tripleSet(canonical))).last
    cutAll("schemadisc.schema")(Seq(
      SchemaDiscovery.nodeTypeSchema(canonical), SchemaDiscovery.edgeTypes(canonical)))
    linkInputs = (mentions, pairs)
    Main.collectOutputs(tripleSet, entities)
  }

  private var linkInputs: (DataFrame, DataFrame) = _

  /** Candidate pairs the band self-join emits before verification (the
    * same banding and bucket cap as candidatePairs; outside every span). */
  private def bandPairs(mentions: DataFrame, pairs: DataFrame): Unit = {
    val banded = MinHashBlocking.bandedIndex(mentions, "mention_id", "shingles",
      cfg.jaccardThreshold, extraKey = Seq("mention_type"))
    val band = MinHashBlocking.capBuckets(banded, Seq("_band"), cfg.maxBucket)
      .groupBy("_band").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    val keys = mentions.select("mention_id", "mention_type", "norm").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    found = pairs.select("id_a", "id_b").collect().toSeq
      .map(r => (keys(r.getLong(0)), keys(r.getLong(1))))
    metrics("link.candidatePairs.band_pairs") = band
    metrics("link.candidatePairs.pair_yield") = if (band == 0) 0.0 else found.size / band
  }

  /** Per-layer metrics of the pass; the bench-side jobs they need run
    * after the pass, outside every span. */
  private def reportLayers(): Unit = sideJob {
    bandPairs(linkInputs._1, linkInputs._2)
    Seq("ingest.stableTurns", "extract.triplesRaw", "extract.mentions", "link.candidatePairs",
      "link.entities", "link.canonicalTriples", "graph.materialize", "schemadisc.schema")
      .foreach(std)
    metrics("ingest.stableTurns.task_skew") = collector.totals("ingest.stableTurns").taskSkew
    metrics("link.entities.jobs") = collector.totals("link.entities").jobs.toDouble
    metrics("link.canonicalTriples.task_skew") =
      collector.totals("link.canonicalTriples").taskSkew
  }

  def batchPass(transcripts: DataFrame): Main.Outputs = {
    val o = spans("pipeline.run") {
      val turns = cut("ingest.stableTurns")(Transcripts.stableTurns(transcripts))
      downstream(cut("extract.triplesRaw")(Extraction.triplesRaw(turns)))
    }
    reportLayers()
    metrics("pipeline.run.wall_s") = spans.wall("pipeline.run")
    metrics("pipeline.run.self_s") = spans.self("pipeline.run")
    o
  }

  // the merge key of Incremental.ingest
  private val mergeKey = Seq("conv_id", "turn_idx", "subj_norm", "pred", "obj_norm")
  private var written = Seq.empty[(Long, Long)] // (bytes, files) per merge

  def incrementalPass(increments: Seq[DataFrame], order: Seq[Int], stateDir: String): Main.Outputs = {
    val table = Paths.get(stateDir, "inc_triples")
    order.foreach { k =>
      spans("pipeline.ingest") {
        val turns = cut("ingest.stableTurns")(Transcripts.stableTurns(increments(k)))
        val triples = cut("extract.triplesRaw")(Extraction.triplesRaw(turns))
        spans("checkpoint.mergeIncrement") {
          Checkpoint.mergeIncrement(spark, stateDir, "inc_triples", triples, mergeKey)
        }
        written :+= newestVersion(table)
      }
    }
    val o = spans("pipeline.finalizeGraph") {
      downstream(cut("checkpoint.readMerged")(Checkpoint.readMerged(spark, stateDir, "inc_triples")))
    }
    reportLayers()
    val merges = spans.named("checkpoint.mergeIncrement").map(_.seconds)
    metrics("checkpoint.mergeIncrement.wall_s") = Main.median(merges)
    // last disjoint increment over the first (the replay is the final call)
    metrics("checkpoint.mergeIncrement.wall_last_over_first") = merges(merges.size - 2) / merges.head
    metrics("checkpoint.mergeIncrement.bytes_written_mib") = written.map(_._1).sum / 1048576.0
    metrics("checkpoint.mergeIncrement.files_written") = written.map(_._2).sum.toDouble
    metrics("checkpoint.mergeIncrement.rows_written") =
      collector.totals("checkpoint.mergeIncrement").rowsWritten.toDouble
    metrics("checkpoint.readMerged.wall_s") = spans.wall("checkpoint.readMerged")
    metrics("pipeline.finalizeGraph.wall_s") = spans.wall("pipeline.finalizeGraph")
    o
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq

  /** (bytes, files) of the version directory the latest merge wrote. */
  private def newestVersion(table: Path): (Long, Long) = {
    val v = Files.list(table).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("v_"))
      .maxBy(_.getFileName.toString)
    val fs = parquetFiles(v)
    (fs.map(Files.size).sum, fs.size.toLong)
  }

  /** Committed state bytes over input bytes, and write amplification. */
  def stateRatio(fixture: Path, increments: Int, table: Path): Unit = {
    val input = (0 until increments).flatMap(k => parquetFiles(fixture.resolve(s"inc_$k")))
      .map(Files.size).sum
    val state = Checkpoint.committedBucketPaths(spark, table.getParent.toString, "inc_triples")
      .flatMap(p => parquetFiles(Paths.get(p.stripPrefix("file:")))).map(Files.size).sum
    metrics("checkpoint.state_bytes_per_input_byte") = state.toDouble / input
    metrics("checkpoint.mergeIncrement.write_amplification") = written.map(_._1).sum.toDouble / state
  }

  def pairRecall(golden: Map[Checks.MentionKey, String], truePairs: Long): Unit =
    metrics("link.candidatePairs.pair_recall") = Checks.pairRecall(found, golden, truePairs)
}
