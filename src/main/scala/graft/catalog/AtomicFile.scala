package graft.catalog

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** S8 atomic file sink (reference `src/io_utils.py:6-24`): write a
  * temp file beside the target, force it to disk, then rename it over
  * the target in one step. A reader, or a process reopening after a
  * crash, sees the old file or the new one, never a torn or missing
  * one. Temp files are named `.<target>*.tmp` and are never read back,
  * so one left by a crash is inert. */
object AtomicFile {
  def replace(target: Path, bytes: Array[Byte]): Unit = {
    val dir = target.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, "." + target.getFileName, ".tmp")
    try {
      val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
