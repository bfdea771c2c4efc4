package streamprocess_spark;

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
 * Hadoop's checksummed local filesystem, except that permissions are
 * set in-process. Without libhadoop, RawLocalFileSystem.setPermission
 * runs a {@code chmod} process for every file and directory it
 * creates with a permission; this sets the same rwx bits with
 * {@link Files#setPosixFilePermissions}. A sticky bit, or a
 * filesystem without POSIX attributes, keeps Hadoop's own path.
 * Built and put on the driver's classpath by session.py.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }
  }
}
