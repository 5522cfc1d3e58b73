package graft

/** r14 fat-frame materialization policy (VERDICT #1): corpus-fat frames
  * go through Pinned.fat, which localCheckpoints in local mode (where
  * executor loss IS application death and the persist form's columnar
  * encode/decode is pure overhead) and persists with lineage retained on
  * a cluster (where an executor loss must be recomputable). These specs
  * pin (1) both forms produce IDENTICAL results for arms whose
  * intermediates ride through fat frames, and (2) the conf override
  * actually switches the mechanism (an InMemoryRelation appears in the
  * persist form's plan, an ExistingRDD scan in the ckpt form's).
  */
class FatFrameSpec extends SparkSpec {

  private def withFatMode[T](mode: String)(body: => T): T = {
    val key = "spark.graft.fatMaterialize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try body finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      queries.Pinned.drain()
    }
  }

  private def rows(name: String, mode: String): Seq[String] =
    withFatMode(mode) {
      SparkEntry.queries(name)(spark, sf()).collect().map(_.toString).toSeq
    }

  test("persist and localCheckpoint fat forms produce identical results") {
    // pipeline_pretrain_e2e materializes the cascade's stage frames, its
    // gram sets and the retained set through Pinned.fat;
    // pipeline_pretrain_compact composes every fat site (stage frames,
    // shared gsets, the union miner input, retained, iq)
    for (arm <- Seq("pipeline_pretrain_e2e", "pipeline_pretrain_compact")) {
      val ckpt = rows(arm, "ckpt")
      val persist = rows(arm, "persist")
      assert(ckpt == persist, s"$arm diverged between fat modes")
      assert(ckpt.nonEmpty, s"$arm returned no rows — vacuous comparison")
    }
  }

  test("the conf override switches the materialization mechanism") {
    import org.apache.spark.sql.functions.col
    val d = spark.range(10).select(col("id").as("doc_id"))
    val p = withFatMode("persist") {
      val f = queries.Pinned.fat(d)
      f.queryExecution.withCachedData.toString
    }
    assert(p.contains("InMemoryRelation"),
      s"persist mode must go through the cache manager:\n$p")
    val c = withFatMode("ckpt") {
      queries.Pinned.fat(d).queryExecution.analyzed.toString
    }
    assert(c.contains("LogicalRDD") || c.contains("ExistingRDD"),
      s"ckpt mode must truncate to a checkpoint scan:\n$c")
  }
}
