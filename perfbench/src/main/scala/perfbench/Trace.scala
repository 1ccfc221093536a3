package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s._

import graft.io.TableIO
import graft.pipeline._
import graft.streaming.{StreamingAssembly, StreamingClusters}

/** The traced copy of the job the benchmark runs: the calls
  * `graft.Run.runWith` and `graft.pipeline.Pipeline.run` make for the
  * benchmark's options (dense scoring, `--checkpoint`, or `--streaming
  * true`), in the same order, each wrapped in a [[Spans]] span named after
  * its layer. Spark is lazy, so a span that produces a table materialises it
  * (persist + count) before it ends; the rows counted are the layer's
  * `rows_out`. The job's committed output must stay identical to the
  * untraced job's, which the caller checks by partition digest.
  *
  * Options other than `input`, `output`, `checkpoint`, `streaming` and
  * `watermark` are refused: this copy follows only those paths. */
class Trace(spark: SparkSession) {

  private val spans = new Spans(spark.sparkContext)
  import spans.span

  private val pinned = mutable.ArrayBuffer[DataFrame]()
  /** Ratio inputs of the first cold job: mentions, surface scores, backptrs. */
  private var audit: Option[(DataFrame, DataFrame, DataFrame)] = None
  private var streamFolds = 0L
  private var streamOut: Option[String] = None

  def runWith(opt: Map[String, String]): String = {
    val extra = opt.keySet -- Set("input", "output", "checkpoint", "streaming", "watermark")
    require(extra.isEmpty, s"the traced job does not follow ${extra.mkString(", ")}")
    try spans.job {
      if (opt.get("streaming").exists(_.toBoolean)) runStreaming(opt) else runBatch(opt)
    } finally {
      pinned.foreach(_.unpersist(true))
      pinned.clear()
    }
  }

  /** Persist + count inside the layer's span; the count is `rows_out`. */
  private def materialize(layer: String)(df: => DataFrame): DataFrame = span(layer) {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned += p
    spans.rows(layer) += p.count()
    p
  }

  // copies of Run's private helpers
  private def pathIdentity(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n = 0L; var bytes = 0L; var maxMtime = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      n += 1; bytes += s.getLen
      maxMtime = math.max(maxMtime, s.getModificationTime)
    }
    java.lang.Long.toHexString(scala.util.hashing.MurmurHash3
      .stringHash(s"$path|$n|$bytes|$maxMtime").toLong & 0xffffffffL)
  }

  private def writeText(path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write((text + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** `Run.runWith`'s batch path with `Pipeline.run` inlined, dense mode. */
  private def runBatch(opt: Map[String, String]): String = {
    val input = opt("input")
    val output = opt("output")
    val transcripts = span("mentions")(spark.read.parquet(input))
    val cfg = Pipeline.Config(
      mentionGenerator = "all",
      linkThreshold = 0.0,
      checkpointDir = opt.get("checkpoint"),
      scoringMode = "dense",
      inputTag = s"$input@${pathIdentity(input)}")

    val t0 = System.nanoTime()
    graft.functions.register(spark)
    val io = cfg.checkpointDir.map(new TableIO(_))
    var computed = false
    def stage(name: String, layer: String, lineage: String)(compute: => DataFrame): DataFrame =
      io match {
        case Some(t) =>
          span("tableio.read")(t.readIfCurrent(spark, name, lineage)).getOrElse {
            computed = true
            val df = if (layer.isEmpty) compute else materialize(layer)(compute)
            val snap = span("tableio.commit")(t.commit(name, df, lineage))
            span("tableio.read")(t.readIfCurrent(spark, name, lineage, Some(snap)).get)
          }
        case None => computed = true; if (layer.isEmpty) compute else materialize(layer)(compute)
      }
    /** `.cache()` of a stage read-back, materialised where it is read. */
    def cached(layer: String, df: DataFrame): DataFrame = span(layer) {
      val c = df.cache(); c.count(); c
    }

    val tok = cfg.token
    val par = spark.sparkContext.defaultParallelism
    val spread = transcripts.repartition(par, col("conv_id"))
    val mentionsStage = stage("mentions", "mentions", tok)(Mentions.extractAll(spread))
    val mentions = cached(if (io.isDefined) "tableio.read" else "mentions", mentionsStage)
    val surfaces = span("blocking") {
      val s = Blocking.surfaceTable(mentions).cache(); s.count(); s
    }
    val surfacePairs = stage("surface_pairs", "blocking", tok)(
      Blocking.surfacePairs(surfaces, cfg.blocking))
    val surfaceScores = stage("surface_scores", "surface_scoring", tok)(
      Scoring.scoreSurfacePairs(surfacePairs, surfaces, cfg.weights))
    val scored = stage("scores", "", tok) {
      val band = materialize("legs.band") {
        val bandAttr = Blocking.convBandPairsAttr(mentions, cfg.blocking)
        Scoring.scorePairsAttr(bandAttr, cfg.weights)
          .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"))
      }
      val linked = surfaceScores.filter(col("score") > cfg.linkThreshold)
        .select(col("norm_a"), col("norm_b"), col("block_key"), col("score"))
      val bridge = materialize("legs.bridge")(
        Blocking.bridgePairs(linked, mentions, cfg.blocking,
          extraCols = Seq("score"), keepInBand = false)
          .select(col("ant_id"), col("cur_id"), col("block_key"), col("score")))
      val chains = materialize("legs.chain") {
        val selfSc = Scoring.selfScores(surfaces, cfg.weights)
        Blocking.sameSurfaceChainPairs(mentions, cfg.blocking, Some(surfaces),
            keepInBand = false)
          .join(selfSc.hint("shuffle_hash"), "norm")
          .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"))
      }
      band.unionByName(bridge).unionByName(chains)
    }
    val backptrs = stage("backptrs", "decode", tok)(
      Decode.backpointers(scored, cfg.linkThreshold))
    val clusters = stage("clusters", "clustering", tok) {
      val ccCheckpoint: (Int, DataFrame) => DataFrame = io match {
        case Some(t) => (i, df) => {
          span("tableio.read")(t.readIfCurrent(spark, s"cc-iter-$i", s"$tok-iter$i"))
            .getOrElse {
              val snap = span("tableio.commit")(t.commit(s"cc-iter-$i", df, s"$tok-iter$i"))
              span("tableio.read")(
                t.readIfCurrent(spark, s"cc-iter-$i", s"$tok-iter$i", Some(snap)).get)
            }
        }
        case None => (_, df) => df.localCheckpoint(true)
      }
      Clustering.cluster(spark, mentions, backptrs, ccCheckpoint)
    }
    if (computed && audit.isEmpty) audit = Some((mentionsStage, surfaceScores, backptrs))

    val out = new TableIO(output)
    span("tableio.commit") {
      out.commit("clusters", clusters, cfg.token)
      out.commit("backptrs", backptrs, cfg.token)
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    val nMentions = mentions.count()
    val nClusters = clusters.agg(countDistinct(col("cluster_id"))).head.getLong(0)
    val metrics = s"""{"input":"$input","mode":"dense","config":"${cfg.token}",""" +
      s""""mentions":$nMentions,"clusters":$nClusters,""" +
      f""""wall_sec":$wallSec%.3f}"""
    writeText(s"$output/metrics.json", metrics)
    mentions.unpersist(); surfaces.unpersist()
    metrics
  }

  /** [[TableIO]] whose commits and reads are spans of `layer`. */
  private class SpannedTableIO(root: String, layer: String) extends TableIO(root) {
    override def commit(stage: String, df: DataFrame, lineage: String): Int =
      span(layer)(super.commit(stage, df, lineage))
    override def readIfCurrent(spark: SparkSession, stage: String, lineage: String,
        snap: Option[Int]): Option[DataFrame] =
      span(layer)(super.readIfCurrent(spark, stage, lineage, snap))
  }

  /** `Run.runStreaming`, dense mode, commit cadence 1. */
  private def runStreaming(opt: Map[String, String]): String = {
    import org.apache.spark.sql.streaming.Trigger
    val input = opt("input")
    val output = opt("output")
    val t0 = System.nanoTime()
    val linkThreshold = 0.0
    val band = Blocking.Config().maxConvDist
    val watermark = opt.getOrElse("watermark", "10 minutes")
    val cadence = 1
    val token = s"stream-dense-$linkThreshold-$band-${watermark.replace(' ', '_')}"

    val arcDir = s"$output/band_scores"
    span("stream.score") {
      val mentionStream = StreamingAssembly.enrichMentions(
        StreamingAssembly.extractMentions(
          StreamingAssembly.streamTranscripts(spark, input)))
      val scores = StreamingAssembly.streamingBandScores(spark, mentionStream,
        maxConvDist = band, watermark = watermark)
      scores.writeStream
        .format("parquet")
        .option("path", arcDir)
        .option("checkpointLocation", s"$output/ckpt_scores")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

    val io = new SpannedTableIO(output, "stream.state")
    val initial = span("stream.state")(StreamingClusters.loadState(spark, io, token))
    val initialBatches = initial.map(_.batches).getOrElse(0L)
    val st = span("stream.fold") {
      val arcStream = spark.readStream
        .schema("ant_id STRING, cur_id STRING, block_key STRING, " +
          "score DOUBLE, ts TIMESTAMP")
        .parquet(arcDir)
      val decoded = StreamingAssembly.streamingDecode(spark, arcStream,
        linkThreshold, watermark = watermark)
      val (q, ref) = StreamingClusters.maintain(spark, decoded,
        trigger = Some(Trigger.AvailableNow()),
        initial = initial,
        commitCadence = Some((io, token, cadence)),
        checkpointLocation = Some(s"$output/stream_checkpoint"))
      q.awaitTermination()
      ref.get()
    }
    if (st.batches > initialBatches && st.batches % cadence != 0)
      StreamingClusters.commitState(io, st, token)
    streamFolds += st.batches - initialBatches
    streamOut = Some(output)
    val nLive = st.clusters.count()
    spans.rows("stream.fold") = nLive
    val nClusters =
      if (nLive == 0) 0L
      else st.clusters.agg(countDistinct(col("cluster_id"))).head.getLong(0)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val metrics = s"""{"input":"$input","mode":"dense","streaming":true,""" +
      s""""config":"$token","folds":${st.batches},""" +
      s""""resumed_from_fold":$initialBatches,""" +
      s""""linked_mentions":$nLive,"clusters":$nClusters,""" +
      f""""wall_sec":$wallSec%.3f}"""
    writeText(s"$output/metrics.json", metrics)
    metrics
  }

  /** Per-layer metrics over every traced job so far, plus the ratios; the
    * ratio queries run here, after the traced jobs, outside their wall. */
  def report(): JValue = {
    val layers = spans.layers()
    streamOut.foreach { o =>
      spans.rows("stream.score") = spark.read.parquet(s"$o/band_scores").count()
    }
    val m = mutable.LinkedHashMap[String, JValue]()
    def put(name: String, v: Double, unit: String): Unit =
      m(name) = JObject("value" -> JDouble(v), "unit" -> JString(unit))
    Trace.Layers.foreach { l =>
      val x = layers.getOrElse(l, spans.Layer(0, 0, 0, 0, 0, 0, 0))
      put(s"$l.busy_s", x.busyS, "s")
      put(s"$l.driver_s", x.driverS, "s")
      put(s"$l.jobs", x.jobs, "count")
      put(s"$l.tasks", x.tasks, "count")
      put(s"$l.shuffle_mb", x.shuffleMb, "MB")
      put(s"$l.spill_mb", x.spillMb, "MB")
      put(s"$l.task_skew", x.taskSkew, "ratio")
      if (Trace.TableLayers(l)) put(s"$l.rows_out", spans.rows(l).toDouble, "rows")
    }
    val (linked, dropped, linkRatio) = audit match {
      case Some((mentions, surfaceScores, backptrs)) =>
        val surfaces = Blocking.surfaceTable(mentions)
        val scoredPairs = surfaceScores.count()
        val l = surfaceScores.filter(col("score") > 0.0).count()
        val oversize = Blocking.blockStats(Blocking.blockKeys(surfaces), surfaces)
          .filter(col("oversize")).agg(coalesce(sum(col("mention_mass")), lit(0L)))
          .head.getLong(0)
        val nm = mentions.count()
        (if (scoredPairs > 0) l.toDouble / scoredPairs else 0.0, oversize.toDouble,
          if (nm > 0) backptrs.count().toDouble / nm else 0.0)
      case None => (0.0, 0.0, 0.0)
    }
    put("surface_scoring.linked_ratio", linked, "ratio")
    put("blocking.dropped_mentions", dropped, "count")
    put("decode.link_ratio", linkRatio, "ratio")
    put("stream.fold.jobs_per_fold",
      if (streamFolds > 0) layers.get("stream.fold").map(_.jobs).getOrElse(0).toDouble / streamFolds
      else 0.0, "count")
    val layerSum = Trace.Layers.map(l => layers.get(l).map(_.busyS).getOrElse(0.0)).sum
    val unknown = layers.keySet -- Trace.Layers
    require(unknown.isEmpty, s"spans outside the layer list: ${unknown.mkString(", ")}")
    JObject("wall_s" -> JDouble(spans.wallS), "layer_sum_s" -> JDouble(layerSum),
      "metrics" -> JObject(m.toList))
  }
}

object Trace {
  /** Every layer a traced job can report, in pipeline order; `other` is job
    * time outside every span. */
  val Layers: Seq[String] = Seq("mentions", "blocking", "surface_scoring",
    "legs.band", "legs.bridge", "legs.chain", "decode", "clustering",
    "tableio.commit", "tableio.read", "stream.score", "stream.fold",
    "stream.state", "other")
  /** Layers that output a table, and so report `rows_out`. */
  val TableLayers: Set[String] = Set("mentions", "blocking", "surface_scoring",
    "legs.band", "legs.bridge", "legs.chain", "decode", "clustering",
    "stream.score", "stream.fold")
}
