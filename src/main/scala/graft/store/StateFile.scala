package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** The one durable state-file swap: the store's `_version` pointer, its
  * `_prefixes` map and `_retired` gc journal, a view's `_view` pointer
  * and the connector's offset state file all go through it (the
  * reference's defensive state write, FusekiOffsetStore.java:330-390).
  *
  * [[replace]] writes the sibling `<name>.temp` and moves it over the
  * file with `ATOMIC_MOVE`, so a reader sees the old content or the new,
  * never a torn write. A crash between the two steps leaves an orphaned
  * `.temp`, which no read here looks at and the next replace overwrites.
  */
object StateFile {

  /** The sibling a [[replace]] writes before its move. */
  def temp(path: Path): Path = path.resolveSibling(s"${path.getFileName}.temp")

  def replace(path: Path, text: String): Unit = {
    val tmp = temp(path)
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The file's text; None while it does not exist. */
  def read(path: Path): Option[String] =
    if (Files.exists(path)) Some(new String(Files.readAllBytes(path), UTF_8)) else None

  /** A key → value map stored one `key<TAB>value` line per entry, sorted
    * by key. A line without a tab is skipped.
    */
  def readMap(path: Path): Map[String, String] =
    read(path).fold(Map.empty[String, String])(_.split("\n").toSeq.flatMap { line =>
      line.split("\t", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap)

  def replaceMap(path: Path, entries: Map[String, String]): Unit =
    replace(path, entries.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n"))
}
