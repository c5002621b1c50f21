/*
 * Hadoop's local filesystem without the chmod fork.
 *
 * With no libhadoop native library, RawLocalFileSystem.setPermission runs
 * the chmod binary for every file, .crc sidecar and directory a write
 * creates. This subclass sets the same mode through java.nio instead;
 * everything else, checksums included, is LocalFileSystem's own. It must
 * stay a LocalFileSystem: FileSystem.getLocal casts to that class.
 *
 * Build (from this directory; J is pyspark's jars/ directory):
 *   javac --release 17 -cp "$J/hadoop-client-api-3.4.2.jar" -d classes ForkFreeLocalFileSystem.java \
 *     && jar cf edsp-localfs.jar -C classes . && rm -r classes
 */
package edsp.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) { // no java.nio form
        super.setPermission(p, permission);
      } else { // toString is the 9-character rwx form
        Files.setPosixFilePermissions(
            pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
      }
    }
  }
}
