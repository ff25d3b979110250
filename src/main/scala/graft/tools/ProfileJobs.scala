package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level profile of one gate: `runMain graft.tools.ProfileJobs
  * <queryName> <sfDir> [repeat]` — registers a listener recording every
  * Spark job's duration + call site, runs the gate through the bench's
  * noop sink, and prints a per-job table plus the gap (driver-side /
  * non-job) time. The measurement tool behind the r17-opt round's
  * "where do the seconds go" questions (guide §1: measure first).
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ProfileJobs <queryName>[,<queryName>...] <sfDir> [repeat]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = args(1)
    val repeat = if (args.length > 2) args(2).toInt else 1
    val spark = graft.LocalSession("graft-profile-jobs")

    final case class J(id: Int, start: Long, var end: Long = -1L,
                       var site: String = "", var desc: String = "")
    val jobs = new scala.collection.concurrent.TrieMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, e.time)
        j.site = Option(e.properties.getProperty("callSite.short")).getOrElse("")
        j.desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        jobs.put(e.jobId, j)
        order.add(e.jobId)
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
    })

    // warm tables like Bench does
    graft.Tables.all.foreach { n =>
      try graft.Tables.load(spark, dir, n).count()
      catch { case _: Throwable => () }
    }
    for (name <- names; it <- 1 to repeat) {
      val q = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      spark.sharedState.cacheManager.clearCache()
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      q(spark, dir).write.mode("overwrite").format("noop").save()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // settle listener events
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val js = order.asScala.toSeq.flatMap(jobs.get)
      val totalJobMs = js.map(j => math.max(0L, j.end - j.start)).sum
      println(f"[profjobs] $name run$it wall=${wallMs / 1000}%.2fs " +
        f"jobs=${js.size} jobTime=${totalJobMs / 1000.0}%.2fs " +
        f"gap=${(wallMs - totalJobMs) / 1000.0}%.2fs")
      // grouped by description (guide §1.5 labels) — where the jobs go
      js.groupBy(j => if (j.desc.nonEmpty) j.desc else s"<${j.site}>")
        .map { case (d, g) =>
          (d, g.size, g.map(j => math.max(0L, j.end - j.start)).sum / 1000.0)
        }
        .toSeq.sortBy(-_._3)
        .foreach { case (d, n, s) =>
          println(f"[profjobs]   $s%7.2fs over $n%3d jobs  $d%s")
        }
      if (sys.env.contains("PROFJOBS_DETAIL")) {
        var prevEnd = -1L
        js.foreach { j =>
          val dur = (j.end - j.start) / 1000.0
          val gapBefore = if (prevEnd < 0) 0.0 else (j.start - prevEnd) / 1000.0
          prevEnd = math.max(prevEnd, j.end)
          println(f"[profjobs]   job=${j.id}%4d dur=$dur%7.3fs gapBefore=$gapBefore%7.3fs ${j.site}%s ${if (j.desc.nonEmpty) "| " + j.desc else ""}%s")
        }
      }
    }
    spark.stop()
  }
}
