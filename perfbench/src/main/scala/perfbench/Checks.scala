package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.json4s._

/** Output checks, run after the timed steps: pairwise F1 of a committed
  * cluster snapshot against the harness gold, and a label-free digest of the
  * partition.
  *
  * Batch gold is the entity, the `c<id>-` prefix of the mention's
  * conversation, and F1 counts every pair of mentions, not only the blocked
  * candidate pairs `--evaluate` counts: a link that blocking never proposed
  * is a recall miss here. The streaming face links only inside a
  * conversation band, so its gold is the entity restricted to one
  * conversation. Mentions absent from a committed table are singletons,
  * which is how the streaming state stores never-linked mentions. */
object Checks {

  implicit val formats: Formats = DefaultFormats

  private val Entity = "^c([0-9]+)-.*".r

  def entity(m: String): String = m match {
    case Entity(e) => e
    case _ => sys.error(s"mention id without an entity prefix: $m")
  }

  def conversation(m: String): String = m.takeWhile(_ != '#')

  /** Committed snapshot `snap` of `stage` under `root`, as (mention, cluster). */
  private def committed(spark: SparkSession, root: String, stage: String,
      snap: Int): Array[(String, String)] =
    spark.read.parquet(s"$root/$stage/snap-$snap")
      .select("mention_id", "cluster_id").collect()
      .map(r => (r.getString(0), r.getString(1)))

  private def pairs(n: Long): Double = n * (n - 1) / 2.0

  /** Pairwise F1 of `cluster` against `gold`, over `universe`. */
  def pairwiseF1(universe: Seq[String], cluster: Map[String, String],
      gold: String => String): Double = {
    val rows = universe.map(m => (cluster.getOrElse(m, m), gold(m)))
    val tp = rows.groupBy(identity).values.map(v => pairs(v.size)).sum
    val pred = rows.groupBy(_._1).values.map(v => pairs(v.size)).sum
    val same = rows.groupBy(_._2).values.map(v => pairs(v.size)).sum
    if (pred == 0 && same == 0) 1.0
    else if (tp == 0) 0.0
    else { val p = tp / pred; val r = tp / same; 2 * p * r / (p + r) }
  }

  /** SHA-256 (first 16 hex digits) of the partition: members sorted within
    * each cluster, clusters sorted. Independent of cluster labels. */
  def digest(universe: Seq[String], cluster: Map[String, String]): String = {
    val groups = universe.groupBy(m => cluster.getOrElse(m, m)).values
      .map(_.sorted.mkString(",")).toSeq.sorted
    val md = MessageDigest.getInstance("SHA-256")
    groups.foreach(g => md.update((g + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Check the snapshot committed as of step `after` (`snapshots`: step →
    * stage → latest snapshot id once the step finished). */
  def run(spark: SparkSession, spec: JObject,
      snapshots: Map[String, Map[String, Int]]): JObject = {
    val output = (spec \ "output").extract[String]
    def snap(stage: String): Int = snapshots((spec \ "after").extract[String])
      .getOrElse(stage, sys.error(s"nothing committed to $stage under $output"))
    val (universe, cluster, gold) = (spec \ "kind").extract[String] match {
      case "batch" =>
        val rows = committed(spark, output, "clusters", snap("clusters"))
        val ids = rows.map(_._1)
        require(ids.distinct.length == ids.length,
          s"$output: a mention sits in more than one cluster")
        (ids.toSeq, rows.toMap, entity _)
      case "stream" =>
        val inputs = (spec \ "inputs").extract[List[String]]
        val ids = graft.pipeline.Mentions.extractIdentifier(spark.read.parquet(inputs: _*))
          .select("mention_id").collect().map(_.getString(0))
        val rows = committed(spark, output, "stream_clusters", snap("stream_clusters"))
        (ids.toSeq, rows.toMap, (m: String) => entity(m) + "/" + conversation(m))
    }
    val clusters = universe.map(m => cluster.getOrElse(m, m)).distinct.size
    JObject("label" -> spec \ "label", "mentions" -> JLong(universe.size),
      "clusters" -> JLong(clusters),
      "pairwise_f1" -> JDouble(pairwiseF1(universe, cluster, gold)),
      "digest" -> JString(digest(universe, cluster)))
  }
}
