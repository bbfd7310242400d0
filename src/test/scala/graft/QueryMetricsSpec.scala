package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}

/** Bench's per-query listener: the reset/snapshot window holds exactly the
  * measured query's jobs, streaming micro-batches included, and the bus
  * drain makes repeated readings exact. */
class QueryMetricsSpec extends SparkSpec {

  private def measure(metrics: QueryMetrics)(run: => Unit): QueryProfile = {
    metrics.reset()
    run
    metrics.snapshot()
  }

  private def withMetrics[T](f: QueryMetrics => T): T = {
    val metrics = QueryMetrics.attach(spark)
    try f(metrics) finally metrics.detach()
  }

  private def shuffled: DataFrame =
    spark.range(0L, 20000L, 1L, 4).groupBy((col("id") % 7).as("k"))
      .agg(count(lit(1)).as("n"))

  test("a shuffling query reports its stages, tasks and shuffle bytes") {
    withMetrics { metrics =>
      val p = measure(metrics)(shuffled.collect())
      assert(p.stages >= 2 && p.tasks > 0 && p.shuffleWriteBytes > 0, p)
      assert(p.topStages.nonEmpty && p.topStages.size <= 3, p)
      assert(p.json.startsWith("{\"stages\":"), p.json)
    }
  }

  test("a second measurement does not include the first") {
    withMetrics { metrics =>
      val first = measure(metrics)(shuffled.collect())
      val second = measure(metrics)(spark.range(0L, 100L, 1L, 2).collect())
      assert(second.tasks < first.tasks && second.shuffleWriteBytes == 0L,
        s"first $first, second $second")
    }
  }

  test("a streaming replay's micro-batch jobs are counted with no job label") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Double)]
    ms.addData((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 2.0))
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
    withMetrics { metrics =>
      val p = measure(metrics) {
        graft.streaming.Streaming.replayToTable(
          graft.streaming.Streaming.tumblingAgg(
            ms.toDF().toDF("ts", "value").withColumn("event_type", lit("w"))),
          "query_metrics_stream")
      }
      assert(p.tasks > 0, p)
    }
  }

  test("a k-means blocking fit and its assignment run a bounded number of stages") {
    // one stage collects the fit sample (the fit itself is driver
    // arithmetic), one runs the assignment; MLlib's distributed fit ran 53
    // here (init jobs, two stages per iteration, solver-choice and
    // cluster-size jobs)
    val maxStages = 2
    val feats = graft.text.FeaturePipeline.features(graft.io.Tables.documents(spark, sfDir),
        graft.text.FeatureConfig(numTextFeatures = 1024))
      .select("doc_id", "features").cache()
    feats.count()
    try withMetrics { metrics =>
      val p = measure(metrics) {
        val (_, clustered) = graft.cluster.Clustering.kmeans(feats, k = 8, maxIter = 20)
        clustered.select("prediction").collect()
      }
      assert(p.stages > 0 && p.stages <= maxStages, p)
    } finally { feats.unpersist(); () }
  }

  test("a TF-IDF fit is one SQL job with no MLlib stage") {
    // the fit is one grouped aggregate over a single-file scan: one stage
    // scans and partially aggregates, one reads the shuffle for the
    // collect; MLlib's IDF ran a treeAggregate RDD job outside any SQL
    // execution on top
    val maxStages = 2
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Seq[String])]
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs += ((Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id"))), e.stageInfos.map(_.name)))
        }
    }
    val docs = graft.io.Tables.documents(spark, sfDir)
    spark.sparkContext.addSparkListener(jobListener)
    try withMetrics { metrics =>
      val p = measure(metrics) {
        graft.text.FeaturePipeline.features(docs,
          graft.text.FeatureConfig(numTextFeatures = 1024, useIdf = true))
      }
      val started = jobs.synchronized(jobs.toList)
      val mllib = started.flatMap(_._2).filter(n =>
        n.contains("treeAggregate") || n.contains("IDF.scala"))
      assert(mllib.isEmpty, s"MLlib stages: $mllib")
      assert(started.nonEmpty && started.forall(_._1.isDefined) &&
        started.map(_._1).distinct.size == 1, s"jobs (SQL execution id, stages): $started")
      assert(p.stages > 0 && p.stages <= maxStages, p)
    } finally spark.sparkContext.removeSparkListener(jobListener)
  }

  test("repeated measurements of one query agree on the task count") {
    withMetrics { metrics =>
      val tasks = (1 to 10).map(_ => measure(metrics)(shuffled.collect()).tasks)
      assert(tasks.distinct.size == 1 && tasks.head > 0, tasks)
    }
  }
}
