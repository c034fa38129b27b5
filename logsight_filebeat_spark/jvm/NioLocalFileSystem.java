/*
 * Hadoop's local file system, with the two calls that start a process made
 * in-process instead.
 *
 * Without Hadoop's native library (pyspark's wheel ships none), the stock
 * RawLocalFileSystem starts a `chmod` process for every file and directory
 * it creates (setPermission) and a `readlink` process for every
 * getFileLinkStatus, which FileContext calls on each rename: a few ms each,
 * dozens per stream micro-batch. Here setPermission applies a plain rwx mode
 * with java.nio (the same chmod(2) call) and getFileLinkStatus asks java.nio
 * whether the path is a symlink; anything else goes to Hadoop's own code.
 *
 * NioLocalFileSystem is the checksummed FileSystem (fs.file.impl), so .crc
 * side files and the on-disk layout are the stock LocalFileSystem's;
 * NioLocalFileSystem.Fs is its FileContext twin
 * (fs.AbstractFileSystem.file.impl), as LocalFs is to RawLocalFs.
 *
 * Build: tools/build_localfs_jar.sh (the jar is committed beside this file).
 */
package logsight_filebeat_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem with setPermission and getFileLinkStatus made in-process. */
  public static class Raw extends RawLocalFileSystem {

    // PosixFilePermission.values() runs owner rwx, group rwx, others rwx:
    // the nine mode bits from 0400 down to 0001
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission); // sticky bit: java.nio cannot set it
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

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f); // what Hadoop returns once readlink prints nothing
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** FileContext's local file system: checksummed, over {@link RawFs}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf)); // LocalFs, too, ignores the URI it is given
    }
  }

  /** org.apache.hadoop.fs.local.RawLocalFs over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // no default port for file system
    }

    @Override
    @SuppressWarnings("deprecation")
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true; // different local file systems accept different names
    }
  }
}
