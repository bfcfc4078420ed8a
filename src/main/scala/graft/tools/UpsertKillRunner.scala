package graft.tools

/** Child-process entry for UpsertFaultSpec: apply ONE deterministic
  * micro-batch to the [[graft.streaming.EventStream.upsertBatch]] state
  * at `args(0)` and exit. When the spec sets `GRAFT_UPSERT_KILL_POINT`
  * in this process's environment, the batch `halt()`s the JVM at that
  * point of the stage→promote protocol — a REAL mid-commit process
  * death (the same reason StreamSoak's kill phase is its own JVM).
  *
  * The batch is a pure function of `batchId` — redelivery of the same
  * id reproduces identical rows, which is exactly foreachBatch's
  * replay contract the crash-recovery path depends on: batch b upserts
  * keys `b*50 .. b*50+149` (100-key overlap with the next batch) with
  * ts = b, so latest-per-key semantics make every final row decidable.
  */
object UpsertKillRunner {
  def batchRows(batchId: Long): Seq[(String, Long, String)] =
    (0 until 150).map { i =>
      val k = batchId * 50 + i
      (s"k$k", batchId, s"b${batchId}_k$k")
    }

  def main(args: Array[String]): Unit = {
    val state = args(0)
    val batchId = args(1).toLong
    val spark = graft.Sessions.start(graft.Sessions.builder(cpus = 4), logLevel = "ERROR")
    import spark.implicits._
    val df = batchRows(batchId).toDF("k", "ts", "v")
    graft.streaming.EventStream.upsertBatch(state, "k", "ts")(df, batchId)
    spark.stop()
  }
}
