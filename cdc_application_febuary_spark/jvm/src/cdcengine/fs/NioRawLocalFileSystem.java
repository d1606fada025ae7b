package cdcengine.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * {@link RawLocalFileSystem} whose permission and link-status calls stay in
 * the JVM. Without libhadoop the stock class forks {@code chmod} for every
 * {@code setPermission} and {@code readlink} for every
 * {@code getFileLinkStatus}; the latter is handed the {@code file:} URI
 * string, so it always fails and returns nothing. A mode with bits outside
 * 0777 (sticky, setuid) and a real symlink keep the stock path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** OWNER_READ .. OTHERS_EXECUTE, matching mode bits 0400 .. 0001. */
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
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

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
