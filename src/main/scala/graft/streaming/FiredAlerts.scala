package graft.streaming

import graft.model.Alert
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** The bounded driver collect of fired alerts, shared by both engines. */
private[streaming] object FiredAlerts {

  /** The HAVING-passed alerts of `alerts`, at most `cap` of them, in ONE
    * Spark job: each partition keeps its first `cap` and the driver
    * truncates the concatenation, so the result equals a `limit(cap)`
    * collect. `limit(cap).collect()` plans a `CollectLimit`, which scans
    * 1, then 4, then 16 … partitions in back-to-back jobs until the cap is
    * reached — and a cap that is almost never reached means every
    * partition, over several jobs. The driver holds at most
    * partitions × `cap` alerts at once. `col("passed")` keeps the
    * predicate in codegen; `_.passed` would deserialize every alert. */
  def collect(alerts: Dataset[Alert], cap: Int): Seq[Alert] =
    alerts.filter(col("passed"))
      .mapPartitions(_.take(cap))(alerts.encoder)
      .collect().toSeq.take(cap)
}
