package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Resume semantics: committed stages are never recomputed; a crashed
  * (uncommitted) stage is overwritten cleanly; resumed runs read the
  * SAME bytes a fresh run would.
  */
class PipelineRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("run -> rerun: committed stages skip; outputs identical") {
    val dir = tempDir("graft-pipe")
    var aRuns = 0
    var bRuns = 0
    val stages = Seq(
      "clean" -> { (_: Map[String, org.apache.spark.sql.DataFrame]) =>
        aRuns += 1
        Seq((1L, "keep"), (2L, "drop"), (3L, "keep")).toDF("id", "verdict")
          .filter($"verdict" === "keep")
      },
      "score" -> { (prev: Map[String, org.apache.spark.sql.DataFrame]) =>
        bRuns += 1
        prev("clean").withColumn("score", $"id" * 10)
      })

    val out1 = PipelineRunner.run(spark, dir, stages)
    assert(aRuns == 1 && bRuns == 1)
    val got1 = out1("score").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got1 == Seq((1L, 10L), (3L, 30L)))

    // rerun: both stages committed -> neither function invoked
    val out2 = PipelineRunner.run(spark, dir, stages)
    assert(aRuns == 1 && bRuns == 1, "committed stages must not recompute")
    assert(out2("score").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq == got1)
  }

  test("crash mid-pipeline: resume skips committed prefix, overwrites partial output") {
    val dir = tempDir("graft-pipe2")
    var firstRuns = 0
    val first = "first" -> { (_: Map[String, org.apache.spark.sql.DataFrame]) =>
      firstRuns += 1
      Seq(1L, 2L, 3L).toDF("id")
    }
    val boom = "second" -> { (_: Map[String, org.apache.spark.sql.DataFrame]) =>
      throw new RuntimeException("induced stage crash")
    }
    intercept[RuntimeException] {
      PipelineRunner.run(spark, dir, Seq(first, boom))
    }
    assert(firstRuns == 1)

    // plant a PARTIAL (uncommitted) second-stage dir: data, no _SUCCESS
    val partial = new java.io.File(s"$dir/second")
    partial.mkdirs()
    new java.io.File(partial, "part-garbage.parquet").createNewFile()

    val fixed = "second" -> { (prev: Map[String, org.apache.spark.sql.DataFrame]) =>
      prev("first").withColumn("sq", $"id" * $"id")
    }
    val out = PipelineRunner.run(spark, dir, Seq(first, fixed))
    assert(firstRuns == 1, "committed first stage must not recompute on resume")
    assert(out("second").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 4L), (3L, 9L)),
      "partial output must be overwritten by the resumed stage")
  }

  test("stale committed output is detected by the stage fingerprint and recomputed") {
    val dir = tempDir("graft-pipe4")
    var extractRuns = 0
    var scoreRuns = 0
    def stages(version: String, factor: Long) = Seq(
      ("extract", version, { (_: Map[String, org.apache.spark.sql.DataFrame]) =>
        extractRuns += 1
        Seq(1L, 2L).toDF("id").withColumn("v", $"id" * factor)
      }),
      ("score", "1", { (prev: Map[String, org.apache.spark.sql.DataFrame]) =>
        scoreRuns += 1
        prev("extract").withColumn("s", $"v" + 100)
      }))

    PipelineRunner.runVersioned(spark, dir, stages("1", 10))
    assert(extractRuns == 1 && scoreRuns == 1)

    // same versions -> both stages skip (the run-level regression guard)
    PipelineRunner.runVersioned(spark, dir, stages("1", 10))
    assert(extractRuns == 1 && scoreRuns == 1)

    // the caller edits stage logic and bumps ITS version: the committed
    // output under the old fingerprint is stale — recomputed, and the
    // DOWNSTREAM stage recomputes too (its input changed) even though
    // its own version string is untouched. _SUCCESS alone would have
    // silently served factor=10 rows here.
    val out = PipelineRunner.runVersioned(spark, dir, stages("2", 20))
    assert(extractRuns == 2, "stale stage must recompute on version bump")
    assert(scoreRuns == 2, "downstream of a stale stage must cascade")
    assert(out("score").orderBy("id").collect().map(_.getLong(2)).toSeq ==
      Seq(120L, 140L), "resumed run must serve the NEW logic's bytes")

    // a committed dir with a MISSING fingerprint (e.g. crash between
    // parquet commit and marker write, or a pre-fingerprint layout)
    // recomputes rather than trusting _SUCCESS
    val f = new java.io.File(s"$dir/extract/_GRAFT_STAGE")
    assert(f.delete(), "fingerprint marker should exist on disk")
    PipelineRunner.runVersioned(spark, dir, stages("2", 20))
    assert(extractRuns == 3, "missing fingerprint must not be trusted")
  }

  test("duplicate stage names are rejected loudly") {
    val dir = tempDir("graft-pipe3")
    val s = "x" -> { (_: Map[String, org.apache.spark.sql.DataFrame]) =>
      Seq(1L).toDF("id") }
    intercept[IllegalArgumentException] {
      PipelineRunner.run(spark, dir, Seq(s, s))
    }
  }
}
