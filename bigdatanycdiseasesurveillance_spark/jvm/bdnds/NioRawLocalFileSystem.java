package bdnds;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsAction;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem whose setPermission is a chmod syscall.
 *
 * Without the native Hadoop library the stock setPermission starts a
 * chmod process, and it runs for every file and directory a write
 * creates. The sticky bit is not set; nothing local uses it.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    add(perms, permission.getUserAction(), PosixFilePermission.OWNER_READ,
        PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE);
    add(perms, permission.getGroupAction(), PosixFilePermission.GROUP_READ,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE);
    add(perms, permission.getOtherAction(), PosixFilePermission.OTHERS_READ,
        PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE);
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  private static void add(Set<PosixFilePermission> perms, FsAction action,
      PosixFilePermission read, PosixFilePermission write, PosixFilePermission execute) {
    if (action.implies(FsAction.READ)) perms.add(read);
    if (action.implies(FsAction.WRITE)) perms.add(write);
    if (action.implies(FsAction.EXECUTE)) perms.add(execute);
  }
}
