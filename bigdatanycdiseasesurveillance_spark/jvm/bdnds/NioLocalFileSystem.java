package bdnds;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local FileSystem (.crc files as before) over NioRawLocalFileSystem. */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
