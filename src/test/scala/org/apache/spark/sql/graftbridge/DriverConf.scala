package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** The SparkContext's live conf is private[spark]; specs set a
  * driver-side limit that each job reads (spark.driver.maxResultSize)
  * through it. */
object DriverConf {
  def withValue[T](sc: SparkContext, key: String, value: String)(f: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try f finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
