package sparkgraft;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem, setting rwx modes with one chmod system
 * call. Without the native libhadoop, RawLocalFileSystem.setPermission
 * forks chmod(1) for every file and directory it creates; this sets the
 * same mode through java.nio. A mode with any bit outside rwx (sticky)
 * goes to the superclass, so every mode stays what Hadoop sets.
 */
public class NioLocalFileSystem extends RawLocalFileSystem {
  // Declared in mode-bit order: OWNER_READ (0400) ... OTHERS_EXECUTE (0001).
  private static final PosixFilePermission[] RWX = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < RWX.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(RWX[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }
}
