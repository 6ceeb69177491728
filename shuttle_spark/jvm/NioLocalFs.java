package shuttle_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * {@code fs.AbstractFileSystem.file.impl}: the FileContext twin of
 * {@link NioLocalFileSystem}, i.e. Hadoop's {@code LocalFs} over
 * {@link NioRawLocalFileSystem}.  Spark's streaming checkpoints go through
 * FileContext.  {@code org.apache.hadoop.fs.local.RawLocalFs} cannot be
 * reused: it hard-codes {@code new RawLocalFileSystem()} and its
 * constructors are package-private.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI theUri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** {@code RawLocalFs} with its four overrides, over the NIO raw class. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
