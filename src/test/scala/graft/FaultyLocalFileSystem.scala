package graft

import java.io.FileNotFoundException
import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under the `faulty:` scheme, with a one-shot
  * fault: once armed, the next `delete` of a path the arming predicate
  * accepts throws `FileNotFoundException` (and deletes nothing) — the
  * way a concurrent writer's gc, deleting a file this gc just listed,
  * surfaces. Address a table as `faulty://` + its absolute local path
  * after [[FaultyLocalFileSystem.register]].
  */
class FaultyLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = FaultyLocalFileSystem.Uri

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultyLocalFileSystem.trip(p)
    super.delete(p, recursive)
  }
}

object FaultyLocalFileSystem {
  val Uri: URI = URI.create("faulty:///")

  private val armed = new AtomicReference[Path => Boolean](null)

  def register(conf: Configuration): Unit = {
    conf.set("fs.faulty.impl", classOf[FaultyLocalFileSystem].getName)
    conf.setBoolean("fs.faulty.impl.disable.cache", true)
  }

  /** Fail the next delete of a path matching `matching`, once. */
  def failNextDelete(matching: Path => Boolean): Unit = armed.set(matching)

  def disarm(): Unit = armed.set(null)

  private def trip(p: Path): Unit = {
    val m = armed.get
    if (m != null && m(p) && armed.compareAndSet(m, null))
      throw new FileNotFoundException(s"injected fault: $p already deleted")
  }
}
