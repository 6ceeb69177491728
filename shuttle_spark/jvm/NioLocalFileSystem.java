package shuttle_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/** {@code fs.file.impl}: the checksummed local filesystem ({@code .crc}
 *  files included) over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
