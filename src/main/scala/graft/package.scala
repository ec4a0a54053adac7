package object graft {
  /** Every declared query: (session, sf-dir) => result frame. */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Runs `body` with each session conf `key -> value` set, then puts
    * every key back as it was — its previous value, or unset if it had
    * none — whether `body` returns or throws. */
  def withConf[T](spark: org.apache.spark.sql.SparkSession, kvs: (String, String)*)(
      body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
