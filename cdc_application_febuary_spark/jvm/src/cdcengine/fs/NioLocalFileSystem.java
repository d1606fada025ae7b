package cdcengine.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local {@code FileSystem} over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
