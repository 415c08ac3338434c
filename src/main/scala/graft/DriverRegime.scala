package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The "collect if it fits on the driver, else run distributed" decision
  * of the operators with a two-regime split (the broadcast-join analogy:
  * a decision problem whose input is a tiny proxy of the corpus is solved
  * where the data already is). Callers keep their own row caps and
  * eligibility checks; the switch and the probe live here.
  *
  * One switch, the session conf key [[EnabledKey]] (default `true`):
  * `false` sends every call down its distributed path, which is how the
  * regime-equality specs pin identical output in both regimes. Spark
  * loads `spark.*` JVM properties into the session conf, so
  * `-Dspark.graft.driverRegime.enabled=false` forces a whole run
  * distributed.
  *
  * Lives in `graft`, not `graft.operators`, so a probe job's innermost
  * `graft.operators.<Op>` call-site frame is the operator that asked.
  */
object DriverRegime {

  val EnabledKey = "spark.graft.driverRegime.enabled"

  /** `Some(rows)` when the key is on and `df` has at most `cap` rows, else
    * `None`. With the key on this is ONE job: the capped
    * `limit(cap + 1).collect()` is complete under the cap, and one row over
    * it means the distributed regime (the probe is then wasted — the rare
    * big-regime case).
    */
  def collectIfSmall(df: DataFrame, cap: Int): Option[Array[Row]] = {
    require(cap > 0 && cap < Int.MaxValue, s"need 0 < cap < Int.MaxValue, got $cap")
    if (!df.sparkSession.conf.get(EnabledKey, "true").toBoolean) None
    else {
      val rows = df.limit(cap + 1).collect()
      if (rows.length > cap) None else Some(rows)
    }
  }
}
