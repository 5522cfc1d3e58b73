package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.queries.Artifact

/** Persisted artifacts are keyed by the code that built them, so a build
  * never serves what a build with other code published.
  */
class ArtifactKeySpec extends SparkSpec {

  test("an artifact published under another code fingerprint is not read") {
    val dir = sf()
    def root(code: String) =
      Paths.get(s"target/ann_index/${Artifact.corpusKey(spark, dir, "embeddings", code)}/ivf_int_k8")
    val stale = root("0badc0de0000")
    assert(stale != root(Artifact.codeKey))
    // a poisoned integer IVF index: every centroid equal, so the probe
    // would take cells 0-3, and cell 0 holds one row that is no vector
    Artifact.publish(stale) { tmp =>
      Files.writeString(tmp.resolve("cents.txt"), Seq.fill(8)(Seq.fill(64)("1000").mkString(",")).mkString("\n"))
      spark.range(1).select(lit(999999L).as("n_id"), array(Seq.fill(64)(lit(1.0)): _*).as("nemb"),
          lit(8.0).as("nnrm"), lit(0).as("cell"))
        .write.partitionBy("cell").parquet(tmp.resolve("assigned.parquet").toString)
    }
    // with nothing under the current key, a key blind to the code would
    // serve the poisoned index
    org.apache.commons.io.FileUtils.deleteDirectory(root(Artifact.codeKey).toFile)
    val served = SparkEntry.queries("ann_ivf_int_probe")(spark, dir).collect().toSeq
    assert(!served.exists(_.getAs[Long]("n_id") == 999999L), "the stale artifact was served")
    assert(served == SparkEntry.queries("ann_ivf_int")(spark, dir).collect().toSeq)
    assert(Files.exists(root(Artifact.codeKey)), "the probe published no artifact of its own")
  }
}
