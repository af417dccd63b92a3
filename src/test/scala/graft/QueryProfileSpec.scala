package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.obs.QueryProfile
import graft.streaming.{StreamHarness, StreamWindows}
import graft.streaming.StreamWindows.WindowConfig

/** QueryProfile attributes jobs, tasks and micro-batch progress to the
  * row that ran them: batch rows, back-to-back rows, harness streaming
  * rows, and foreachBatch sink jobs of a serve stream. */
class QueryProfileSpec extends SparkSpec {

  private def withProfile[T](f: QueryProfile => T): T = {
    val p = QueryProfile.install(spark)
    try f(p) finally p.close()
  }

  private def groupByRow(): Unit =
    spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k")).count()
      .collect()

  private def sortRow(): Unit =
    spark.range(0, 5000, 1, 3).orderBy(col("id").desc).limit(7).collect()

  test("a groupBy row reports its jobs, tasks, shuffle bytes and driver gap") {
    val r = withProfile { p => p.row("g")(groupByRow()); p.get("g").get }
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, r.json)
    assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes > 0, r.json)
    assert(r.taskRunS >= 0 && r.taskCpuS > 0, r.json)
    assert(r.driverGapS >= 0 && r.driverGapS <= r.wallS + 0.001, r.json)
    assert(r.batches == 0 && r.callbackMs > 0, r.json)
    // the JSON form is one object a JSON reader accepts
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.json)
    assert(node.get("jobs").asLong == r.jobs)
  }

  test("rows run back-to-back each keep the job count they have alone") {
    groupByRow(); sortRow() // warm: first runs may plan differently
    val alone = (
      withProfile { p => p.row("a")(groupByRow()); p.get("a").get.jobs },
      withProfile { p => p.row("b")(sortRow()); p.get("b").get.jobs })
    val together = withProfile { p =>
      p.row("a")(groupByRow())
      p.row("b")(sortRow())
      (p.get("a").get.jobs, p.get("b").get.jobs)
    }
    assert(together == alone)
    // untagged work beside the profile is no row's
    withProfile { p =>
      p.row("a")(groupByRow()); groupByRow()
      assert(p.get("a").get.jobs == alone._1)
      assert(p.get("unknown").isEmpty && p.json("unknown") == "{}")
    }
  }

  test("a StreamHarness stateful row reports its batches, phases and state") {
    val s = spark
    import s.implicits._
    val steps: Seq[(Long, Seq[(String, Int)])] = Seq(
      (100L, Seq(("a", 1), ("b", 2))),
      (200L, Seq(("a", 3))),
      (300L, Seq(("c", 4))))
    val r = withProfile { p =>
      p.row("harness") {
        StreamHarness.run(s, steps) { ds =>
          StreamWindows.keyedTumblingFold[(String, Int), String, Int](
            ds, _._1, 0, (a, t) => a + t._2,
            WindowConfig(intervalMs = 60000), StreamHarness.clock,
            timeout = GroupStateTimeout.NoTimeout)
        }.collect()
      }
      p.get("harness").get
    }
    assert(r.batches == steps.size, r.json)
    assert(r.phasesMs.getOrElse("triggerExecution", 0L) > 0, r.json)
    assert(r.phasesMs.contains("addBatch"), r.json)
    assert(r.stateRows > 0 && r.stateMemBytes > 0, r.json)
    assert(r.jobs >= r.batches, r.json)
  }

  test("a bm25LookupStream row owns its foreachBatch sink jobs") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-profile")
      .toString
    val docs = graft.sources.Tables.load(s, sf0001, "documents")
      .select("doc_id", "text").orderBy("doc_id").limit(100)
    graft.operators.TextProfile.bm25Index(docs, "doc_id", "text")
      .write(s"$root/idx")
    val texts = docs.select("text").as[String].collect()
      .map(_.split("\\s+").take(4).mkString(" "))
    implicit val sqlCtx = s.sqlContext
    val qIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val r = withProfile { p =>
      p.row("serve") {
        val q = graft.streaming.StreamJobs.bm25LookupStream(
            qIn.toDS().toDF("q_id", "qtext"), s"$root/idx", s"$root/out",
            "q_id", "qtext", "doc_id", k = 5)
          .option("checkpointLocation", s"$root/ckpt").start()
        try (0 until 3).foreach { i =>
          qIn.addData(Seq((i.toLong, texts(i))))
          q.processAllAvailable()
        } finally q.stop()
      }
      p.get("serve").get
    }
    assert(r.batches == 3, r.json)
    assert(r.jobs >= r.batches, r.json)
    assert(r.phasesMs.contains("addBatch"), r.json)
    graft.streaming.ModelCache.clear()
  }
}
