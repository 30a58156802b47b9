package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN scale-rung instrument (VERDICT r16 item 1): the similarity
  * family's last unmeasured claims, made falsifiable at a fixture —
  *  - the BUCKETING claim: IVF cell sizes and LSH bucket sizes bound
  *    each probe's candidate count (avg and max per probe, measured,
  *    not argued from construction);
  *  - the RECALL claim: recall@3 of each approximate tier vs the
  *    exact brute-force top-3, mean and min over the 50 probes, from
  *    the tier's own gated recall row.
  * Wall-clock for the queries comes from `graft.Bench` with
  * `SPARK_GRAFT_ONLY=q_sim_cosine_topk,q_sim_ann_ivf,q_sim_ann_lsh,
  * q_sim_ann_recall` at the same fixture; this main reports the
  * numbers a timing line cannot.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=/tmp/sf10gk sbt "runMain graft.AnnRung"`
  * → ONE JSON line; exits nonzero on a violated bound. */
object AnnRung {

  def main(args: Array[String]): Unit = {
    val sfDir = SparkEntry.sfDir(
      "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-annrung")
    import spark.implicits._
    val S18 = queries.Surface18
    val e = Tables.read(spark, sfDir, "embeddings")
    val n = e.count()
    val probes = e.filter($"vec_id" < 50)
      .select($"vec_id", $"label",
        queries.LLMOps.hyperBits($"embedding").as("bkt"))
    // label cells and LSH buckets: a probe's candidates are the other
    // members of its cell/bucket
    def othersIn(corpus: DataFrame, key: String): DataFrame =
      probes.join(corpus.groupBy(key).agg(count(lit(1)).as("c")), key)
        .select(($"c" - 1).as("n_cand"))
    // the scan VOLUME of the at-rest index (round 20): rows the pruned
    // kmeans candidate scan reads per probe batch, which must stay
    // ≲×2 across the ×100 fixture hop while n grows ×100
    val scanRows = S18.kmeansScanRows(spark, sfDir)
    require(scanRows <= n,
      "pruned scan cannot read more rows than the corpus")
    def r(x: Double): String = SparkEntry.jsonNum(x, 4)
    // (key, per-probe candidate counts as n_cand, recall@3 row), in
    // output order: label cells, LSH buckets, the label-cell recall,
    // learned cells (r18), the two-level quantizer (r19), IVF∘PQ and
    // the scout union (r20)
    val tiers: Seq[(String, Option[DataFrame], Option[String])] = Seq(
      ("ivf", Some(othersIn(e, "label")), None),
      ("lsh", Some(othersIn(e.withColumn("bkt",
        queries.LLMOps.hyperBits($"embedding")), "bkt")), None),
      ("", None, Some("q_sim_ann_recall")),
      ("kmeans", Some(S18.kmeansCandCounts(spark, sfDir)),
        Some("q_sim_ann_kmeans_recall")),
      ("twolevel", Some(S18.twoLevelCandCounts(spark, sfDir)),
        Some("q_sim_ann_twolevel_recall")),
      ("ivfpq", None, Some("q_sim_ann_ivf_pq_recall")),
      ("scout", Some(S18.scoutCandCounts(spark, sfDir)),
        Some("q_sim_ann_scout_recall")))
    val recall = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val fields = tiers.map { case (key, cand, row) =>
      val c = cand.toSeq.flatMap { df =>
        val a = df.agg(avg($"n_cand"), max($"n_cand")).head()
        require(a.getLong(1) >= a.getDouble(0).toLong,
          s"$key candidate max below avg — measurement inconsistent")
        Seq(s"cand_${key}_avg" -> r(a.getDouble(0)),
          s"cand_${key}_max" -> a.getLong(1).toString)
      }
      val rc = row.toSeq.flatMap { name =>
        val a = SparkEntry.queries(name)(spark, sfDir)
          .agg(avg($"recall_at_3"), min($"recall_at_3")).head()
        val (mean, lo) = (a.getDouble(0), a.getDouble(1))
        // structural: recall is a fraction of the exact top-3
        require(mean >= 0.0 && mean <= 1.0 && lo >= 0.0,
          s"$name recall out of [0,1]: $a")
        recall(key) = (mean, lo)
        val p = if (key.isEmpty) "recall" else s"recall_$key"
        Seq(s"${p}_mean" -> r(mean), s"${p}_min" -> r(lo))
      }
      c ++ rc
    }
    // the scout tier's candidates are a strict superset of the pure
    // IVF row's, so its recall must dominate — asserted at every
    // fixture, not just claimed
    val ((scMean, scMin), (kmMean, kmMin)) =
      (recall("scout"), recall("kmeans"))
    require(scMean >= kmMean - 1e-9 && scMin >= kmMin - 1e-9,
      s"scout union must dominate pure IVF recall: " +
        s"($scMean, $scMin) vs ($kmMean, $kmMin)")
    val (head, tail) = fields.splitAt(5)
    val all = (("n_vecs" -> n.toString) +: head.flatten) ++
      (("scan_rows_kmeans" -> scanRows.toString) +: tail.flatten) :+
      ("sf" -> SparkEntry.jsonStr(sfDir))
    println(SparkEntry.jsonObj(
      ("metric" -> SparkEntry.jsonStr("ann_rung")) +: all))
    spark.stop()
  }
}
