package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem over a raw layer that sets
  * permissions in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * for every file and directory it creates (data files, their `.crc`
  * siblings, task attempt dirs): a stage write or a snapshot-table commit
  * on `file:` pays a few milliseconds of process launch per file. The raw
  * layer here sets the same mode bits with
  * `java.nio.file.Files.setPosixFilePermissions` instead. Bits NIO cannot
  * express (the sticky bit, which is the only extra bit an `FsPermission`
  * carries) and filesystems without a POSIX attribute view go through
  * Hadoop's own path unchanged.
  *
  * It stays a [[LocalFileSystem]], so [[graft.operators.SnapshotLog]]'s
  * local-only O_EXCL manifest create still recognises it.
  * [[GraftSession.configure]] installs it as `fs.file.impl`.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw layer: Hadoop's, except for how permissions are set. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }

  /** The `rwxrwxrwx` bits of `mode` as NIO permissions. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ ... OTHERS_EXECUTE, i.e. bit 8 down to bit 0
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(perm)
    }
    out
  }
}
