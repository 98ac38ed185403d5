package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark's own accounting per layer: jobs, tasks, task time, shuffle
  * bytes written, spill and GC. A layer is whatever the caller names in
  * the local property [[LayerListener.Key]] while it calls into the
  * program; stages inherit the property of the job that submitted them,
  * so every stage and task the call causes lands in its layer. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val stageLayer = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Acc]

  private def acc(layer: String) = totals.getOrElseUpdate(layer, new Acc)
  private def layerOf(p: java.util.Properties) =
    Option(p).flatMap(x => Option(x.getProperty(Key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    layerOf(e.properties).foreach { l =>
      acc(l).jobs += 1
      e.stageIds.foreach(stageLayer(_) = l)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      layerOf(e.properties).foreach(stageLayer(e.stageInfo.stageId) = _)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (l <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(l)
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  /** Totals of one layer, complete up to the moment of the call. */
  def totalsOf(sc: SparkContext, layer: String): Acc = {
    org.apache.spark.perfbench.BusDrain(sc)
    synchronized(totals.getOrElse(layer, new Acc).copy())
  }

  def reset(): Unit = synchronized { totals.clear(); stageLayer.clear() }
}

object LayerListener {
  val Key = "graft.perfbench.layer"

  final class Acc(var jobs: Long = 0, var tasks: Long = 0,
      var taskMs: Long = 0, var gcMs: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0) {
    def copy(): Acc = new Acc(jobs, tasks, taskMs, gcMs, shuffleWrite, spill)
  }
}
