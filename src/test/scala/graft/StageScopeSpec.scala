package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheBridge
import org.apache.spark.storage.StorageLevel

import graft.ops.Staging

/** `Staging.scoped` releases exactly what its body staged: a scope's
  * close never drops an entry another open scope also staged, nor a
  * frame staged outside any scope, and a body that throws still
  * releases what it owns.
  */
class StageScopeSpec extends SparkSpecBase {

  private val Rows = 20000L
  private val kernel = udf { (x: Long) => StageScopeSpec.calls.incrementAndGet(); x * 7 % 101 }

  /** The counted-kernel plan; equal plans across sessions, since every
    * call shares one UDF. */
  private def counted(s: SparkSession): DataFrame =
    s.range(0L, Rows, 1L, 8).select(col("id"), kernel(col("id")).as("k"))

  private def sumK(df: DataFrame): Long = df.agg(sum(col("k"))).head().getLong(0)

  private val wantSum = (0L until Rows).map(_ * 7 % 101).sum

  /** Runs `body` on a new thread; rethrows what it threw. */
  private def thread(body: => Unit): () => Unit = {
    @volatile var failure: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => failure = e })
    t.start()
    () => { t.join(); if (failure != null) throw failure }
  }

  test("a scope closing on one session leaves an entry another open scope staged") {
    spark.catalog.clearCache()
    StageScopeSpec.calls.set(0)
    val aFilled, bStaged, aClosed = new CountDownLatch(1)
    @volatile var bSum = -1L
    val a = thread {
      val s = spark.newSession()
      Staging.scoped {
        assert(sumK(Staging.stage(counted(s))) === wantSum)
        aFilled.countDown()
        bStaged.await()
      }
      aClosed.countDown()
    }
    val b = thread {
      val s = spark.newSession()
      aFilled.await()
      Staging.scoped {
        val staged = Staging.stage(counted(s))
        bStaged.countDown()
        aClosed.await()
        bSum = sumK(staged) + staged.groupBy(col("k")).count().count()
      }
    }
    a(); b()
    assert(bSum === wantSum + 101)
    assert(StageScopeSpec.calls.get === Rows,
      "B's consumers must read the entry A filled, not recompute it")
    assert(CacheBridge.noCachedPlans(spark))
  }

  test("a scope whose body throws still releases what it owns") {
    spark.catalog.clearCache()
    val e = intercept[IllegalStateException] {
      Staging.scoped {
        val staged = Staging.stage(counted(spark))
        assert(sumK(staged) === wantSum)
        assert(!CacheBridge.noCachedPlans(spark))
        throw new IllegalStateException("body fault")
      }
    }
    assert(e.getMessage === "body fault")
    assert(CacheBridge.noCachedPlans(spark))
  }

  test("a scope closing on one thread leaves a frame staged outside any scope") {
    spark.catalog.clearCache()
    val outside = Staging.stage(spark.range(0L, 100L).toDF("id"))
    thread {
      Staging.scoped {
        // the same plan, already cached by a caller outside any scope
        Staging.stage(spark.range(0L, 100L).toDF("id")).count()
        Staging.stage(counted(spark)).count()
      }
    }()
    assert(outside.storageLevel === StorageLevel.DISK_ONLY)
    assert(counted(spark).storageLevel === StorageLevel.NONE)
    outside.unpersist()
    assert(CacheBridge.noCachedPlans(spark))
  }

  test("a frame staged on a thread the body starts belongs to the body's scope") {
    spark.catalog.clearCache()
    Staging.scoped {
      thread(Staging.stage(counted(spark)).count())()
      assert(counted(spark).storageLevel === StorageLevel.DISK_ONLY)
    }
    assert(CacheBridge.noCachedPlans(spark))
  }
}

object StageScopeSpec {
  val calls = new AtomicLong
}
