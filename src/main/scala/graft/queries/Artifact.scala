package graft.queries

import org.apache.spark.sql.SparkSession

/** Persisted-artifact plumbing shared by the index/tokenizer probe
  * paths (C8g ann_*_probe, r9 tokenizer artifacts): fingerprint a
  * source table and the building code so a stale artifact can never
  * serve a regenerated corpus or a changed builder, and publish
  * artifact directories atomically so concurrent sessions can't observe
  * (or interleave into) a half-written one.
  */
private[graft] object Artifact {

  /** Fingerprint of a parquet-backed source table and of the code that
    * builds from it. Resolved through the Hadoop FileSystem API — correct
    * for any scheme the session can read, not just local files (r8
    * advice: `java.io.File` silently returned 0 bytes for non-local
    * paths). The key folds row count, total byte length, AND max file
    * modification time: a regenerated corpus that collides on (n, bytes)
    * still moves mtime, so the probe path rebuilds instead of serving
    * the stale index. `code` ([[codeKey]] by default) makes a build with
    * different code publish under a new key instead of serving what an
    * older build wrote.
    */
  def corpusKey(s: SparkSession, dir: String, table: String, code: String = codeKey): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    var bytes = 0L
    var mtime = 0L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val st = it.next()
      bytes += st.getLen
      mtime = math.max(mtime, st.getModificationTime)
    }
    val n = graft.core.Tables(s, dir, table).count()
    s"v3_n${n}_b${bytes}_m${mtime}_c$code"
  }

  /** SHA-256 (12 hex digits) over the name and bytes of every `graft/`
    * class at this class's code source, a class directory or a jar, in
    * name order. Every artifact builder is one of those classes, so any
    * change to a builder changes the key.
    */
  lazy val codeKey: String = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes: Seq[(String, Array[Byte])] =
      if (java.nio.file.Files.isDirectory(src)) {
        val walk = java.nio.file.Files.walk(src.resolve("graft"))
        try walk.iterator.asScala.filter(_.toString.endsWith(".class")).map(p =>
          (src.relativize(p).toString, java.nio.file.Files.readAllBytes(p))).toVector
        finally walk.close()
      } else {
        val jar = new java.util.jar.JarFile(src.toFile)
        try jar.entries.asScala
          .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
          .map(e => (e.getName, jar.getInputStream(e).readAllBytes())).toVector
        finally jar.close()
      }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    classes.sortBy(_._1).foreach { case (n, b) => md.update(n.getBytes("UTF-8")); md.update(b) }
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** Publish `dest` atomically: `write` fills a fresh temp sibling
    * directory, which renames into place as the LAST step (an atomic
    * move on the same filesystem). Readers therefore only ever see a
    * complete artifact or none; of racing writers, one rename wins and
    * the losers clean up their temp — no marker file can point at a
    * partially rewritten directory (r8 advice on ivf/pqArtifact).
    * No-op when `dest` already exists.
    */
  def publish(dest: java.nio.file.Path)(write: java.nio.file.Path => Unit): Unit = {
    if (java.nio.file.Files.exists(dest)) return
    java.nio.file.Files.createDirectories(dest.getParent)
    val tmp = dest.getParent.resolve(
      s".${dest.getFileName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.createDirectories(tmp)
    try {
      write(tmp)
      try java.nio.file.Files.move(tmp, dest,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // a concurrent publisher won the rename: their complete
        // artifact serves; ours deletes below
        case _: java.nio.file.FileAlreadyExistsException => ()
        case _: java.nio.file.FileSystemException
          if java.nio.file.Files.exists(dest) => ()
      }
    } finally deleteRecursively(tmp)
  }

  private[queries] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
}
