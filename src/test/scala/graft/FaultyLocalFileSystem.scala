package graft

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under the `faulty:` scheme, with a one-shot
  * fault: once armed, the next `delete` (or `create`) of a path the
  * arming predicate accepts fails and touches nothing. A failed delete
  * throws `FileNotFoundException` — the way a concurrent writer's gc,
  * deleting a file this gc just listed, surfaces; a failed create throws
  * a plain `IOException`, a disk or permission error. Address a table as
  * `faulty://` + its absolute local path after
  * [[FaultyLocalFileSystem.register]].
  */
class FaultyLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = FaultyLocalFileSystem.Uri

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultyLocalFileSystem.trip("delete", p)
    super.delete(p, recursive)
  }

  // every create and append of the local filesystem opens its stream here
  override protected def createOutputStreamWithMode(
      p: Path, append: Boolean, permission: FsPermission): OutputStream = {
    FaultyLocalFileSystem.trip("create", p)
    super.createOutputStreamWithMode(p, append, permission)
  }
}

object FaultyLocalFileSystem {
  val Uri: URI = URI.create("faulty:///")

  // (operation, path predicate) of the one armed fault
  private val armed = new AtomicReference[(String, Path => Boolean)](null)

  def register(conf: Configuration): Unit = {
    conf.set("fs.faulty.impl", classOf[FaultyLocalFileSystem].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
  }

  /** Fail the next delete of a path matching `matching`, once. */
  def failNextDelete(matching: Path => Boolean): Unit =
    armed.set(("delete", matching))

  /** Fail the next create of a path matching `matching`, once. */
  def failNextCreate(matching: Path => Boolean): Unit =
    armed.set(("create", matching))

  def disarm(): Unit = armed.set(null)

  private def trip(op: String, p: Path): Unit = {
    val a = armed.get
    if (a != null && a._1 == op && a._2(p) && armed.compareAndSet(a, null))
      throw (if (op == "delete")
        new FileNotFoundException(s"injected fault: $p already deleted")
      else new IOException(s"injected fault: cannot create $p"))
  }
}
