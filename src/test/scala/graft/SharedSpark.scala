package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One lazy session shared across a suite; sf0.001 data for speed. */
trait SharedSpark extends BeforeAndAfterAll { self: Suite =>
  val sf: String = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SharedSpark.session

  /** (result, Spark jobs `f` ran), counted through a job group. */
  def jobsOf[T](group: String)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val r = try f finally sc.clearJobGroup()
    (r, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  override def afterAll(): Unit = super.afterAll()
}

object SharedSpark {
  lazy val session: SparkSession = Tables.session("graft-test", "4")
}
