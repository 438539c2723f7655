package perfbench

import java.io.File

/** Store accounting from the filesystem: bytes and files under each
  * top-level directory of a store (`samples`, `series_meta`,
  * `series_meta_base`, `series_meta_folded`, `label_values`, …). Hidden
  * and checksum files are counted too: they are what the store costs on
  * disk. */
object Store {
  final case class Usage(bytes: Long, files: Long)

  def usage(dir: File): Usage = {
    var bytes = 0L
    var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
      else { bytes += f.length; files += 1 }
    walk(dir)
    Usage(bytes, files)
  }

  def byTier(store: File): Map[String, Usage] =
    Option(store.listFiles).toSeq.flatten.filter(_.isDirectory)
      .map(d => d.getName -> usage(d)).toMap

  def total(tiers: Map[String, Usage]): Usage =
    Usage(tiers.values.map(_.bytes).sum, tiers.values.map(_.files).sum)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
