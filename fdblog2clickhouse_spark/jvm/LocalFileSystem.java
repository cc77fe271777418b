package fdblog2clickhouse_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, minus its child processes.
 *
 * Without libhadoop, RawLocalFileSystem runs `chmod` for every create and
 * mkdir and `readlink` for every link-status lookup (four per FileContext
 * rename). {@link Raw} makes the same system calls through java.nio and
 * keeps everything else stock. {@link Fs} is the same file system for
 * FileContext users, built like Hadoop's LocalFs over RawLocalFs.
 */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  public LocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) { // not expressible as PosixFilePermission
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> mode = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) { // OWNER_READ = 0400 first
        if ((permission.toShort() & (0400 >> bit.ordinal())) != 0) {
          mode.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), mode);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      FileStatus fi = linkStatus(f);
      if (fi.isSymlink()) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    @Override
    public Path getLinkTarget(Path f) throws IOException {
      return linkStatus(f).getSymlink();
    }

    /** RawLocalFileSystem's link status, with the link read in-JVM. */
    private FileStatus linkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
            fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        if (!target.isEmpty()) { // a dangling link
          return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
              new Path(target), f);
        }
        throw e;
      }
    }

    /** FileUtil.readLink: the link's target, or "" when `f` is no link. */
    private static String readLink(File f) {
      try {
        java.nio.file.Path p = f.toPath();
        return Files.isSymbolicLink(p) ? Files.readSymbolicLink(p).toString().trim() : "";
      } catch (IOException | InvalidPathException e) {
        return "";
      }
    }
  }

  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new DelegateToFileSystem(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false) {
        // RawLocalFs's overrides
        @Override
        public int getUriDefaultPort() {
          return -1;
        }

        @Override
        public FsServerDefaults getServerDefaults(Path f) throws IOException {
          return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public FsServerDefaults getServerDefaults() throws IOException {
          return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public boolean isValidName(String src) {
          return true;
        }
      });
    }
  }
}
