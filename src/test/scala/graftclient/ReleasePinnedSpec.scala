package graftclient

import graft.{SparkEntry, SparkSpec}

/** A caller of the driver contract from outside the `graft` package runs
  * a query and releases what it pinned through the public
  * [[graft.SparkEntry.releasePinned]], so repeated runs in one session do
  * not keep every earlier run's frames.
  */
class ReleasePinnedSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("SparkEntry.releasePinned frees the frames a query pinned, and is safe to repeat") {
    val before = persisted
    val rows = SparkEntry.queries("pipeline_pretrain_e2e")(spark, sf()).collect().toSeq
    assert(rows.nonEmpty)
    val pinned = persisted -- before
    assert(pinned.nonEmpty, "the query pins no frame; the release below would be vacuous")
    SparkEntry.releasePinned()
    assert((persisted & pinned).isEmpty, s"still persisted: ${persisted & pinned}")
    SparkEntry.releasePinned()
    // a fresh plan of the same query runs after the release
    assert(SparkEntry.queries("pipeline_pretrain_e2e")(spark, sf()).collect().toSeq == rows)
    SparkEntry.releasePinned()
  }
}
