package zonal_datacube_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The session's {@code file:} filesystem: a checksummed local filesystem
 * whose raw layer sets permissions with {@code chmod(2)} from the JVM.
 *
 * <p>Without {@code libhadoop.so}, {@link RawLocalFileSystem#setPermission}
 * forks a {@code chmod} process for every file and directory it creates
 * (part files, {@code .crc} sidecars, {@code _SUCCESS}, committer and
 * checkpoint dirs). {@link Raw} applies the same mode to the same path
 * through the {@code unix:mode} file attribute.
 *
 * <p>{@link #rename} keeps the rule of the filesystem the session resolved
 * before (hive-exec's {@code ProxyLocalFileSystem}): renaming onto an
 * existing file returns {@code false} instead of overwriting it.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} with a fork-free {@link #setPermission}. */
  public static class Raw extends RawLocalFileSystem {

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // the unix view's mode setter is chmod(2) with all 12 mode bits
      Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }
  }
}
