package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** [[Frames]] owns what a call materializes: every pinned checkpoint
  * and cache is gone from the session (the persisted RDDs and the
  * cache manager) once its scope ends, however it ends.
  */
class FramesSpec extends SparkSpec {

  private def held: (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      org.apache.spark.sql.graft.CacheEntries.count(spark))

  private def checkpointRdd(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get

  // one eager checkpoint and one materialized cache, both pinned in `f`
  private def pinBoth(f: Frames): (DataFrame, DataFrame) = {
    val cp = f.checkpoint(spark.range(100).select((col("id") * 2).as("x")))
    val cached = f.persist(spark.range(50).select((col("id") + 1).as("y")))
    cached.count()
    (cp, cached)
  }

  test("a scope frees every checkpoint and persist it took on return") {
    val before = held
    val n = Frames.scoped { f =>
      val (cp, cached) = pinBoth(f)
      val (rdds, entries) = held
      rdds should contain(checkpointRdd(cp))
      entries shouldBe before._2 + 1
      cp.count() + cached.count()
    }
    n shouldBe 150L
    held shouldBe before
  }

  test("a scope frees every checkpoint and persist it took when its body throws") {
    val before = held
    val e = intercept[IllegalStateException] {
      Frames.scoped { f =>
        pinBoth(f)
        held should not be before
        throw new IllegalStateException("body failed")
      }
    }
    e.getMessage shouldBe "body failed"
    held shouldBe before
  }

  test("release frees one pinned frame now; the scope frees the rest") {
    val before = held
    Frames.scoped { f =>
      val (cp, cached) = pinBoth(f)
      f.release(cp)
      held._1 should not contain checkpointRdd(cp)
      f.release(cached)
      held shouldBe before
      f.checkpoint(spark.range(10).toDF()).count() shouldBe 10L
    }
    held shouldBe before
  }

  test("a nested scope frees only its own frames") {
    val before = held
    Frames.scoped { outer =>
      val (cp, cached) = pinBoth(outer)
      val afterOuter = held
      Frames.scoped { inner =>
        val own = inner.checkpoint(spark.range(7).toDF())
        inner.persist(spark.range(9).toDF()).count()
        own.count() shouldBe 7L
      }
      held shouldBe afterOuter
      // the outer frames are intact: still pinned, still readable
      cp.count() shouldBe 100L
      cached.count() shouldBe 50L
    }
    held shouldBe before
  }

  test("release of a frame the scope did not pin is refused") {
    val before = held
    Frames.scoped { outer =>
      val cp = outer.checkpoint(spark.range(5).toDF())
      Frames.scoped { inner =>
        // another scope's frame, a frame derived from a pinned one, and
        // a frame no scope pinned
        Seq(cp, cp.select(col("id")), spark.range(3).toDF()).foreach { df =>
          an[IllegalArgumentException] should be thrownBy inner.release(df)
        }
      }
      an[IllegalArgumentException] should be thrownBy
        outer.release(cp.select(col("id")))
      cp.count() shouldBe 5L
      outer.release(cp)
      an[IllegalArgumentException] should be thrownBy outer.release(cp)
    }
    held shouldBe before
  }

  test("a returning scope leaves its frames to the result, frees them on a throw") {
    val before = held
    val result = Frames.returning { f =>
      f.checkpoint(spark.range(20).toDF()).select((col("id") * 3).as("z"))
    }
    result.count() shouldBe 20L
    val rdd = checkpointRdd(result)
    held._1 should contain(rdd)
    spark.sparkContext.getPersistentRDDs(rdd).unpersist(blocking = true)
    held shouldBe before
    intercept[IllegalStateException] {
      Frames.returning { f =>
        pinBoth(f)
        throw new IllegalStateException("no result")
      }
    }
    held shouldBe before
  }
}
