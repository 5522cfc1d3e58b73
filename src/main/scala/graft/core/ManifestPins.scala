package graft.core

import java.io.{FileDescriptor, FileInputStream, FileNotFoundException}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

/** The state manifests one engine's driver reads check, each held open
  * once read, so a read learns that a manifest still holds the text it
  * read with one `stat` of its path instead of a read of its bytes.
  *
  * Why the stat is exact: graft replaces a manifest only by renaming a
  * new file over it (`Graft.saveManifest`), never by editing one in
  * place, and a file held open cannot be freed, so no other file on its
  * device can take its inode number. While a pin is open, a path whose
  * `stat` gives the pin's `(dev, ino)` names the pinned file, and so
  * holds its text. A bare stat, with no file held, is not exact: after
  * two rename-over flips ext4 handed the manifest path its first inode
  * number again in 200 of 200 tries.
  *
  * A pin's key is the open file's own identity, the stat of its
  * descriptor through `/proc/self/fd/<n>` (which still works once the
  * file is unlinked): a stat of the path taken after the open could
  * already name a newer file. Without `/proc`, a readable descriptor
  * number or a file key, nothing is pinned and every read reads the
  * bytes.
  *
  * At most one pin per path: a read that finds another file reads it,
  * pins it and closes the pin it displaces. [[release]] and
  * [[releaseAll]] close pins; a later read pins again.
  */
private[core] final class ManifestPins {
  import ManifestPins._

  private val pins = new ConcurrentHashMap[Path, Pin]
  private val byteReads = new AtomicLong
  /** Pin what is read; false reads the bytes every time. A seam for specs. */
  @volatile private[core] var pinning: Boolean = descriptorsReadable

  /** Reads of a manifest's bytes so far. */
  def reads: Long = byteReads.get
  def held: Int = pins.size

  /** The text of the manifest at `path`; None when there is none. */
  def text(path: Path): Option[String] =
    if (!pinning) read(path)
    else {
      val pin = pins.get(path)
      val key =
        try Files.readAttributes(path, classOf[BasicFileAttributes]).fileKey
        catch { case _: NoSuchFileException => return None }
      // open after the stat: a pin closed before it may have let its
      // inode number go to the file the stat saw
      if (pin != null && pin.key == key && pin.isOpen) Some(pin.text) else read(path)
    }

  def release(path: Path): Unit = Option(pins.remove(path)).foreach(_.release())

  def releaseAll(): Unit = pins.keySet.forEach(p => release(p))

  private def read(path: Path): Option[String] = {
    val in =
      try new FileInputStream(path.toFile)
      catch { case e: FileNotFoundException => if (Files.exists(path)) throw e else return None }
    byteReads.incrementAndGet()
    val pin =
      try new Pin(in.getChannel, if (pinning) keyOf(in.getFD) else null,
        new String(in.readAllBytes(), StandardCharsets.UTF_8))
      catch { case e: Throwable => in.close(); throw e }
    if (pin.key == null) pin.release()
    else Option(pins.put(path, pin)).foreach(_.release())
    Some(pin.text)
  }
}

private[core] object ManifestPins {
  private final class Pin(channel: FileChannel, val key: AnyRef, val text: String) {
    // false from the moment a close starts, before the descriptor is freed
    def isOpen: Boolean = channel.isOpen
    def release(): Unit = channel.close()
  }

  private val procFd = Paths.get("/proc/self/fd")
  // FileDescriptor.fd is readable where java.base/java.io is opened to
  // unnamed modules, as Spark's launcher and build.sbt do
  private val fdField: java.lang.reflect.Field =
    try { val f = classOf[FileDescriptor].getDeclaredField("fd"); f.setAccessible(true); f }
    catch { case NonFatal(_) => null }
  private val descriptorsReadable = fdField != null && Files.isDirectory(procFd)

  /** The `(dev, ino)` file key of an open descriptor; null when unknown. */
  private def keyOf(fd: FileDescriptor): AnyRef =
    try Files.readAttributes(procFd.resolve(fdField.getInt(fd).toString), classOf[BasicFileAttributes]).fileKey
    catch { case NonFatal(_) => null }
}
