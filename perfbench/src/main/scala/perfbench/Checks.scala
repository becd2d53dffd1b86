package perfbench

/** Output checks against the generator's golden data, in plain Scala so
  * they share no code with the engine they judge. */
object Checks {

  /** The paper's acceptance rule for both triple and cluster P/R. */
  val MinScore = 0.95

  final case class Score(tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    def passes: Boolean = precision >= MinScore && recall >= MinScore
  }

  type Triple = (String, String, String)
  /** (mention_type, normalized form) */
  type MentionKey = (String, String)

  def triplePR(predicted: Set[Triple], golden: Set[Triple]): Score = {
    val tp = predicted.count(golden.contains).toLong
    Score(tp, predicted.size - tp, golden.size - tp)
  }

  /**
   * Cluster-majority P/R, the paper's ClusteringEvaluation: each predicted
   * cluster takes the majority golden label of its members; members with
   * that label are true positives, the rest false positives; per label,
   * members not counted as true positives are false negatives. A predicted
   * mention with no golden label is a false positive, a golden mention the
   * engine never reported a false negative.
   */
  def clusterPR(predicted: Map[MentionKey, Long], golden: Map[MentionKey, String]): Score = {
    val labelled = predicted.toSeq.collect { case (k, c) if golden.contains(k) => (c, golden(k)) }
    val unknown = predicted.size - labelled.size
    val tp = labelled.groupBy(_._1).values
      .map(members => members.groupBy(_._2).values.map(_.size).max.toLong).sum
    Score(tp, labelled.size - tp + unknown, golden.size - tp)
  }

  /** Share of the true same-entity pairs of distinct mentions that the
    * blocker reported. */
  def pairRecall(found: Iterable[(MentionKey, MentionKey)],
                 golden: Map[MentionKey, String], truePairs: Long): Double = {
    val hits = found.count { case (a, b) =>
      golden.get(a).exists(e => golden.get(b).contains(e))
    }
    if (truePairs == 0) 1.0 else hits.toDouble / truePairs
  }
}
