package graft.connect

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.store.StateFile

/** Durable offset state with a JSON state file — byte-compatible with
  * the reference's FusekiOffsetStore (format
  * `{"dataset":"/name","offsets":{"<topic>-<partition>-<group>":N}}`,
  * FusekiOffsetStore.java:29-33,345-349; sample Replay-RDF2.state).
  *
  * Robustness matrix mirrored (SURVEY.md §2.4 rows 27-33):
  *  - parse constraints: 5 MiB document cap, nesting depth ≤ 3
  *    (FusekiOffsetStore.java:85-100)
  *  - corrupt main file → moved aside to `.discarded[-N]`, recover
  *    from `.temp` then `.backup` (FusekiOffsetStore.java:112-216)
  *  - legacy 1.x migration: `endpoint`/`topic`/`offset` fields, with
  *    the historical off-by-one corrected (stored = actual − 1;
  *    FusekiOffsetStore.java:224-255, README.md:189-191)
  *  - stored dataset name must match configured, prefix tolerated for
  *    legacy trailing segments (FusekiOffsetStore.java:170-177)
  *  - defensive write: backup → [[StateFile.replace]] → drop backup
  *    (writeStateFile, FusekiOffsetStore.java:330-390)
  *  - copyTo refuses the live file (FusekiOffsetStore.java:400-405)
  */
final class OffsetStore(val datasetName: String, val stateFile: Path, consumerGroup: String) {
  import OffsetStore._

  private val offsets = mutable.LinkedHashMap[String, Long]()
  loadStateFile()

  // --- public API -----------------------------------------------------------

  def offsetKey(topic: String, partition: Int): String =
    s"$topic-$partition-$consumerGroup"

  def saveOffset(topic: String, partition: Int, offset: Long): Unit =
    offsets(offsetKey(topic, partition)) = offset

  def loadOffset(topic: String, partition: Int): Option[Long] =
    offsets.get(offsetKey(topic, partition))

  def allOffsets: Map[String, Long] = offsets.toMap

  /** Per-(topic,partition) MAX across all consumer groups in the file
    * ("restoring from a state file that may have a different group in
    * it", FKS.restoreOffsetForDataset, FKS.java:456-475).
    */
  def maxOffsetsByPartition: Map[(String, Int), Long] =
    offsets.toSeq.flatMap { case (k, v) => decodeKey(k).map(_ -> v) }
      .groupBy(_._1).map { case (tp, vs) => tp -> vs.map(_._2).max }

  /** Flush current state to disk (on commit and close,
    * FusekiOffsetStore.java:321-325,407-410).
    */
  def flush(): Unit = writeStateFile()

  /** Snapshot the state to another file; the live file is refused. */
  def copyTo(target: Path): Unit = {
    if (target.toAbsolutePath == stateFile.toAbsolutePath)
      throw new ConfigException("copyTo target must not be the live state file")
    Files.write(target, renderJson().getBytes(UTF_8))
  }

  // --- read path --------------------------------------------------------------

  private def loadStateFile(): Unit = {
    val loaded = Files.exists(stateFile) && (tryLoad(stateFile) || { discardCorrupt(); false })
    // a missing or corrupt main file: prefer an orphaned temp (crash
    // between temp write and move), then a backup
    if (!loaded)
      Seq(StateFile.temp(stateFile), sibling(".backup")).find(p => Files.exists(p) && tryLoad(p))
  }

  /** Load one candidate file. Corruption (unparseable JSON, size/depth
    * constraint breach) returns false so the caller can discard and try
    * a recovery copy; a *mis*configuration — dataset-name mismatch or an
    * unrecognized-but-valid JSON shape — rethrows ConfigException so
    * startup fails instead of silently destroying valid offset state
    * (reference fails fast with JenaKafkaException on mismatch and only
    * discards on StreamConstraintsException, FusekiOffsetStore.readStateFile,
    * FusekiOffsetStore.java:112-216).
    */
  private def tryLoad(path: Path): Boolean = {
    try {
      if (Files.size(path) > MAX_STATE_FILE_BYTES)
        throw new CorruptStateException(s"state file exceeds $MAX_STATE_FILE_BYTES bytes")
      val root = mapper.readTree(Files.readAllBytes(path))
      if (root == null || !root.isObject) throw new CorruptStateException("state file is not a JSON object")
      if (depth(root) > MAX_DEPTH) throw new CorruptStateException("state file nesting too deep")
      if (root.has("offsets") || root.has("dataset")) loadCurrent(root)
      else if (root.has("topic") && root.has("offset")) migrateLegacy(root)
      else if (root.isEmpty) { /* empty object: fresh state */ }
      else throw new ConfigException("unrecognized state file shape")
      true
    } catch {
      case e: ConfigException => offsets.clear(); throw e
      case _: Exception => offsets.clear(); false
    }
  }

  private def loadCurrent(root: JsonNode): Unit = {
    val ds = if (root.has("dataset")) root.get("dataset").asText() else null
    if (ds != null && ds.nonEmpty) {
      // configured name must equal stored, tolerating legacy trailing
      // path segments via prefix match
      val ok = ds == datasetName || ds.startsWith(datasetName) || datasetName.startsWith(ds)
      if (!ok) throw new ConfigException(
        s"state file is for dataset '$ds', configured dataset is '$datasetName'")
    }
    val offs = root.get("offsets")
    if (offs != null && offs.isObject) {
      offs.properties().asScala.foreach { e =>
        if (e.getValue.canConvertToLong) offsets(e.getKey) = e.getValue.asLong()
      }
    }
  }

  /** Legacy 1.x: `{"endpoint":..,"topic":t,"offset":n}` where n was
    * stored off by one (actual − 1).
    */
  private def migrateLegacy(root: JsonNode): Unit = {
    val topic = root.get("topic").asText()
    val off = root.get("offset").asLong()
    if (off >= 0) offsets(offsetKey(topic, 0)) = off + 1
  }

  private def discardCorrupt(): Unit = {
    var target = sibling(".discarded")
    var n = 0
    while (Files.exists(target)) { n += 1; target = sibling(s".discarded-$n") }
    Files.move(stateFile, target, StandardCopyOption.REPLACE_EXISTING)
  }

  // --- write path -------------------------------------------------------------

  /** The backup copy brackets the one state-file swap
    * ([[StateFile.replace]], whose `.temp` the loader recovers from).
    */
  private def writeStateFile(): Unit = {
    val backup = sibling(".backup")
    if (Files.exists(stateFile))
      Files.copy(stateFile, backup, StandardCopyOption.REPLACE_EXISTING)
    StateFile.replace(stateFile, renderJson())
    Files.deleteIfExists(backup)
  }

  private def renderJson(): String = {
    val root = mapper.createObjectNode()
    root.put("dataset", datasetName)
    val offs = root.putObject("offsets")
    offsets.foreach { case (k, v) => offs.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def sibling(suffix: String): Path =
    stateFile.resolveSibling(stateFile.getFileName.toString + suffix)
}

object OffsetStore {
  val MAX_STATE_FILE_BYTES: Long = 5L * 1024 * 1024 // FusekiOffsetStore.java:89-94
  val MAX_DEPTH = 3

  private val mapper = new ObjectMapper()

  private def depth(n: JsonNode): Int =
    if (!n.isContainerNode || n.isEmpty) 1
    else 1 + n.elements().asScala.map(depth).maxOption.getOrElse(0)

  /** Decode "<topic>-<partition>-<group>" exactly as the reference does
    * (FKS.decodeExternalOffsetKey, FKS.java:477-480): split from the
    * LEFT with limit 3 — topic = parts(0), partition = parts(1). The
    * group may contain hyphens/digits freely; a topic containing '-'
    * is not decodable by this scheme (same limitation as the reference).
    */
  def decodeKey(key: String): Option[(String, Int)] = {
    val parts = key.split("-", 3)
    if (parts.length < 3 || parts(0).isEmpty) None
    else if (parts(1).nonEmpty && parts(1).forall(_.isDigit))
      Some((parts(0), parts(1).toInt))
    else None
  }
}
