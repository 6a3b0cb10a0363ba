package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The lineage record behind every resumable output: one input fingerprint
  * and one manifest codec, shared by [[Checkpoint]]'s per-range manifests,
  * the cluster artifact of [[graft.dedup.CorpusArtifacts.clustersCached]]
  * and the directory-backed `versionId`s of [[graft.sources.TableIO]].
  */
object Lineage {

  /** FNV over the sorted (path relative to `root`, size, mtime) of `files`.
    * mtime is folded in so that a file rewritten in place with the same
    * name and size does not fingerprint identically — resumes and artifact
    * caches keyed on it would silently serve stale output.
    */
  def fingerprint(root: Path, files: Seq[Path]): String = {
    val canonical = files
      .map { p =>
        val f = p.toFile
        root.relativize(p).toString -> (f.length(), f.lastModified())
      }
      .sorted
      .map { case (p, (len, mt)) => s"$p:$len:$mt" }.mkString("|")
    java.lang.Long.toHexString(graft.expressions.FnvHash64.hash(
      canonical.getBytes(StandardCharsets.UTF_8)))
  }

  /** Manifest reader/writer. Raw control characters are accepted on read:
    * older manifests were built from string templates that escaped at most
    * `"` and `\\`.
    */
  private val json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  def newManifest(): ObjectNode = json.createObjectNode()

  def readManifest(path: Path): Option[JsonNode] =
    if (Files.exists(path)) Some(json.readTree(path.toFile)) else None

  /** Atomic write: a temp file unique to this write, then a rename over
    * `path`, so a killed writer leaves no torn manifest and two concurrent
    * writers never share a temp file.
    */
  def writeManifest(path: Path, doc: JsonNode): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp-${UUID.randomUUID()}")
    Files.write(tmp, json.writeValueAsBytes(doc))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
