package graft.sinks

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** All-or-nothing file replacement for the single-file writers
  * ([[HyperBinary]], `XlsxWriter`): the bytes go to a new file next to
  * the target, which is then renamed over it. A reader never sees a
  * partial file, and a failed write leaves the previous file as it was.
  *
  * The temp file is created here (`CREATE_NEW`), not by
  * `Files.createTempFile`, so the result gets the mode of any new file
  * in that directory rather than owner-only. Its name starts with `.`
  * and ends in `.tmp`, so directory listings of workbooks or extracts
  * skip it while it exists.
  */
object AtomicFile {

  def write(target: Path)(body: OutputStream => Unit): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      val out = new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
      try body(out) finally out.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
