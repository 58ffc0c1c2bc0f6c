package porcupine_spark.jvm;

import java.io.File;
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
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed {@code file:} FileSystem over {@link Raw}: Hadoop's
 * LocalFileSystem, minus the process that Hadoop without libhadoop
 * starts for every permission change and every link check.
 */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {

  public LocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem with chmod and the link check done in-process. */
  public static class Raw extends RawLocalFileSystem {

    /** The nine rwx bits through java.nio. Other requested bits (sticky,
     *  setuid), or a directory holding setuid/setgid, which chmod's octal
     *  form keeps and nio would clear, take Hadoop's own path. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      java.nio.file.Path file = pathToFile(p).toPath();
      int current = (Integer) Files.getAttribute(file, "unix:mode");
      boolean dirIdBits = (current & 0170000) == 0040000 && (current & 06000) != 0;
      if ((mode & ~0777) != 0 || dirIdBits) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      Files.setPosixFilePermissions(file, bits);
    }

    /** Hadoop runs {@code readlink} on {@code new File(f.toString())} and,
     *  when that is no link, returns getFileStatus(f): only a real link
     *  goes to Hadoop's path. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** The FileContext view, checksummed as Hadoop's LocalFs. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** The raw FileContext view over {@link Raw}, as Hadoop's RawLocalFs. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
