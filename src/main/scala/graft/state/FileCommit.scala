package graft.state

import java.io.IOException

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** The ingest path's one commit step, shared by the state tables
  * ([[StateStore]]) and the CSV's committed length
  * (`graft.sources.CsvMeta`).
  */
object FileCommit {

  /** Installs the finished file `src` at its final name `dst`, replacing
    * any file there, by one rename(2): a reader sees the old `dst` or
    * the new one, never neither. This needs a FileSystem whose `rename`
    * replaces an existing destination, as the local FS does; one that
    * refuses (HDFS's `FileSystem.rename`) fails the commit, and the old
    * `dst` stays.
    *
    * Hadoop's default `file:` FS is checksummed, and its own `rename`
    * (and FileContext's `rename(OVERWRITE)`) deletes `dst` before the
    * rename. So the data moves through the raw FS underneath instead:
    * `dst`'s old `.crc` is deleted first, then the data is renamed, then
    * `src`'s `.crc` follows it. A crash between the steps leaves `dst`
    * (old bytes or new) with no `.crc`, which reads unchecked, never the
    * new bytes under the old checksum.
    */
  def install(fs: FileSystem, src: Path, dst: Path): Unit = fs match {
    case c: ChecksumFileSystem =>
      val raw = c.getRawFileSystem
      raw.delete(c.getChecksumFile(dst), false)
      rename(raw, src, dst)
      val crc = c.getChecksumFile(src)
      if (raw.exists(crc)) rename(raw, crc, c.getChecksumFile(dst))
    case _ => rename(fs, src, dst)
  }

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"commit: rename $src -> $dst returned false")
}
