package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with `setPermission` done in-process.
  *
  * Without `libhadoop` (none ships with the Spark distribution this engine
  * runs on), `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", …)`: one forked process for every file, `.crc`
  * sidecar and directory a write creates. On a 4-core host, a JFR
  * `jdk.ProcessStart` recording of one warm `Pipeline.run` on perfbench's
  * 30k-turn `clean` table counted 323 `chmod` processes for 190 files and
  * 34 directories. One costs about 3 ms even timed alone from an idle JVM,
  * against 0.01-0.02 ms through `java.nio`; a traced run's task time fell
  * from 8.1 to 5.7 core-seconds without them. This override sets the same
  * mode bits through `java.nio`, which forks nothing.
  *
  * A permission with the sticky bit has no `PosixFilePermission` form and
  * goes to Hadoop's own implementation; the engine's writes never ask for
  * one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

/** Hadoop's checksummed `file:` filesystem over [[NioRawLocalFileSystem]]:
  * the same `.crc` sidecars, output layout and modes as `LocalFileSystem`,
  * with no process started per file. [[Tables.writer]] selects it for one
  * write through that write's Hadoop options.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
