package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session every measurement main builds, so their numbers are
  * taken under the same settings: `local[cpus]` with as many shuffle
  * partitions, UI off, UTC, WARN logging, and a 4000-entry codegen cache
  * (Spark's default 100 entries recompiles a warm `pipeline_pretrain_*`
  * pass as much as the cold one). `cpus` is `SPARK_GRAFT_CPUS`, else the
  * number of available processors.
  */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Touch every table once, so file listing and first-read warm-up do
    * not land on whichever measurement runs first.
    */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    graft.core.Tables.names.foreach { t =>
      try {
        (if (t == "events") graft.core.Tables.events(spark, sfDir)
         else graft.core.Tables(spark, sfDir, t)).count()
      } catch { case _: Throwable => }
    }

  /** The items `SPARK_GRAFT_ONLY` names (exact names, comma-separated),
    * or all of them when it is unset. Unknown names are warned about; a
    * filter that matches nothing fails, so a typo cannot pass for a
    * fast clean run.
    */
  def only[A](all: Seq[A])(name: A => String): Seq[A] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(all) { names =>
      val want = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want -- all.map(name)
      if (unknown.nonEmpty)
        System.err.println(s"WARN: SPARK_GRAFT_ONLY names match nothing: ${unknown.mkString(", ")}")
      val picked = all.filter(a => want(name(a)))
      require(picked.nonEmpty, s"SPARK_GRAFT_ONLY=$names matches nothing")
      picked
    }
}
