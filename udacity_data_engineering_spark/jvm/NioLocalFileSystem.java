package udacity_data_engineering_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed {@code file:} FileSystem, with permissions set inside the JVM.
 *
 * <p>Without the native libhadoop, {@code RawLocalFileSystem.setPermission} forks
 * {@code chmod %04o path}, and it runs for every directory {@code mkdirs} creates and
 * every file created with a permission (each part file and its {@code .crc}). A
 * partitioned Parquet write forks one process per output file or directory.
 * {@code Files.setPosixFilePermissions} makes the same chmod(2) call in-process.
 *
 * <p>The committed {@code nio-local-fs.jar} next to this file is built from it by
 * {@code python scripts/build_nio_fs.py}; rerun that after any edit here.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@code RawLocalFileSystem} whose {@code setPermission} does not fork. */
  public static class Raw extends RawLocalFileSystem {
    private static final int S_IFMT = 0170000;
    private static final int S_IFDIR = 0040000;
    private static final int SET_ID = 06000;

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path file = pathToFile(p).toPath();
      // NIO cannot express the sticky bit, and cannot keep a directory's
      // setuid/setgid bits, which chmod with a 4-digit mode keeps
      if ((mode & ~0777) != 0 || isSetIdDirectory(file)) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        // declared OWNER_READ (0400) first, down to OTHERS_EXECUTE (0001)
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      Files.setPosixFilePermissions(file, perms);
    }

    private static boolean isSetIdDirectory(java.nio.file.Path file) throws IOException {
      int st = (Integer) Files.getAttribute(file, "unix:mode");
      return (st & S_IFMT) == S_IFDIR && (st & SET_ID) != 0;
    }
  }
}
