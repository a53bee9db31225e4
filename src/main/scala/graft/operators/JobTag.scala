package graft.operators

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs an operator step launches, so a profile can
  * charge each job to the operator and step behind it. Descriptions
  * read `<operator>:<site>:<step>`: `lloyd:trainModel:iter=0` for a
  * k-means iteration, `walk:topKTwoLevelWalk:rung=2` for a recall-walk
  * rung, `walk:<site>:sample` for the walk's anchor sample,
  * `ivf:topKTwoLevel:seed` for the IVF chain's eager work outside
  * both (stages `dim`, `seed`, `encode`), `semdedup:<site>:cells`
  * for SemDeDup's cell-population check, `semdedup:q80:train` for a
  * query's quantizer training, `cc:<site>:round=1` for a
  * connected-components round. An inner tag overrides an outer one
  * for the jobs launched inside it. */
private[graft] object JobTag {

  /** Runs `body` with `desc` as the `spark.job.description` of every
    * job it launches (AQE's async stage jobs inherit it with the
    * caller's local properties) and restores the caller's description
    * afterwards, also when `body` throws. */
  def during[T](desc: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}
