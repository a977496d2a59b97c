package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide session, UTC, quiet. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"), "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with every [[graft.exec.PathChoice]] site forced to its
    * distributed or stateful side, then restores the exact prior value
    * of the key (unset if it was absent): suites share one JVM-wide
    * session, so restoring a default could clobber another's setting.
    */
  def forcedDistributed[A](spark: SparkSession)(body: => A): A = {
    val key = graft.exec.PathChoice.Key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "distributed")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
