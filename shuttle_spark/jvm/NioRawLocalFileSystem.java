package shuttle_spark.jvm;

import java.io.File;
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
 * Hadoop's raw local filesystem without the per-file process spawns.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} runs {@code chmod} for
 * every file and directory it creates, and {@code readlink} for every
 * link-status lookup (FileContext calls one on each rename and exists
 * check).  Each spawn costs about 4 ms; a Structured Streaming commit makes
 * several per partition per micro-batch.  This class does the same two
 * things in-process and leaves every other method to the stock class.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  // POSIX permission for bit (8 - i) of the mode, owner-read first.
  private static final PosixFilePermission[] MODE_BITS = {
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE,
  };

  /** The mode bits {@code chmod} would get, applied without spawning it.
   *  A sticky-bit mode has no {@link PosixFilePermission}: stock path. */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    int mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < MODE_BITS.length; i++) {
      if ((mode & (1 << (8 - i))) != 0) {
        perms.add(MODE_BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  /** The stock method runs {@code readlink} on {@code new File(f.toString())}
   *  and returns {@code getFileStatus(f)} when that is not a symlink: always
   *  the case for a qualified {@code file:} path, which names no file.  That
   *  test is done here with one {@code lstat}; a real symlink still goes to
   *  the stock method. */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
