/*
 * The session's file system for `file:` paths (`fs.file.impl`).
 *
 * Hadoop's RawLocalFileSystem sets the mode of every file and directory
 * it creates through setPermission. Without the native libhadoop, that
 * runs a `chmod` process per call: each parquet part file, `.crc` file,
 * committer temp dir, `_SUCCESS` marker, checkpoint-log entry and
 * state-store delta forks once. Raw sets the nine rwx bits in the JVM
 * instead; a mode with setuid, setgid or sticky bits still goes to
 * Hadoop. LocalFs is Hadoop's checksummed LocalFileSystem over Raw, so
 * `.crc` files are written and verified as before.
 *
 * LocalFs also keeps the rename rule of Hive's ProxyLocalFileSystem,
 * which Spark's bundled hive-exec jar registers for `file:` and which a
 * session used until now: a rename onto an existing file fails instead
 * of replacing it. So a replayed state-store delta leaves the first
 * file in place, as before.
 *
 * Build (from this directory; tests/test_localfs_jar.py checks that the
 * committed jar holds exactly these classes):
 *
 *   javac --release 17 -cp "$(python -c 'import os, pyspark; print(os.path.dirname(pyspark.__file__))')/jars/hadoop-client-api-3.4.2.jar" -d classes LocalFs.java && jar cf localfs.jar -C classes . && rm -r classes
 */
package sparkgraft.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class LocalFs extends LocalFileSystem {
  public LocalFs() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    // in the order of the mode bits, 0400 down to 0001
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
