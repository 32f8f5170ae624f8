package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, with a [[SparkListener]]. */
object JobSites {
  /** The call site of every job `body` starts, in start order: the name
    * of the job's result stage, e.g. `parquet at Tables.scala:78`. */
  def of(s: SparkSession)(body: => Any): Seq[String] = {
    val sc = s.sparkContext
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name): Unit
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }
}
