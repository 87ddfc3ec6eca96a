package graft.registry

import graft.config.ConfigTree
import graft.config.ConfigTree.{Tree, jsonString}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Analysis catalog: install / uninstall / list / locate named
  * analyses (a directory of spec files), plus "analysis-mod" variant
  * overlay.
  *
  * Reference semantics:
  *  - JSON registry of name → path:
  *    /root/reference/src/cosmap/analysis/manage.py:95-135
  *  - required-file validation before install (files.json manifest):
  *    manage.py:15-22,60-92 — here the manifest is the fixed set
  *    below; unlike the reference (which "does NOT check that an
  *    analysis can actually run", manage.py:30-34) `install` also
  *    parses the specs so broken JSON fails at install time.
  *  - name from parameters.json "name" key or the folder name:
  *    manage.py:38-42; duplicate install is an error: manage.py:43-44
  *  - variant overlay: right-biased recursive merge of the variant's
  *    files over the base analysis: manage.py:206-362
  */
final class AnalysisRegistry(root: Path) {

  private val registryFile = root.resolve("registry.json")
  val requiredFiles: Seq[String] = Seq("transformations.json")
  val optionalFiles: Seq[String] = Seq("parameters.json")

  private def readRegistry(): Map[String, String] =
    if (Files.exists(registryFile))
      ConfigTree.parse(Files.readString(registryFile)).map {
        case (k, v) => k -> v.toString
      }
    else Map.empty

  private def writeRegistry(reg: Map[String, String]): Unit = {
    Files.createDirectories(root)
    val json = reg.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ", ", "}")
    Files.writeString(registryFile, json)
  }

  /** Validate + register an analysis directory; returns its name. */
  def install(dir: Path, nameOverride: Option[String] = None): String = {
    val missing = requiredFiles.filterNot(f => Files.exists(dir.resolve(f)))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"analysis at $dir missing required files: ${missing.mkString(", ")}")
    // stronger than the reference: specs must parse
    (requiredFiles ++ optionalFiles).filter(f => Files.exists(dir.resolve(f)))
      .foreach(f => ConfigTree.parse(Files.readString(dir.resolve(f))))
    val params: Tree =
      if (Files.exists(dir.resolve("parameters.json")))
        ConfigTree.parse(Files.readString(dir.resolve("parameters.json")))
      else Map.empty
    val name = nameOverride
      .orElse(params.get("name").map(_.toString))
      .getOrElse(dir.getFileName.toString)
    val reg = readRegistry()
    if (reg.contains(name))
      throw new IllegalArgumentException(s"analysis '$name' is already installed")
    writeRegistry(reg + (name -> dir.toAbsolutePath.toString))
    name
  }

  def uninstall(name: String): Unit = {
    val reg = readRegistry()
    if (!reg.contains(name))
      throw new IllegalArgumentException(s"analysis '$name' is not installed")
    writeRegistry(reg - name)
  }

  def list(): Seq[String] = readRegistry().keys.toSeq.sorted

  def locate(name: String): Path = readRegistry().get(name) match {
    case Some(p) => Paths.get(p)
    case None => throw new IllegalArgumentException(s"analysis '$name' is not installed")
  }

  /** Load an analysis' (defaults, transformations) trees. */
  def load(name: String): (Tree, Tree) = {
    val dir = locate(name)
    val defaults =
      if (Files.exists(dir.resolve("parameters.json")))
        ConfigTree.parse(Files.readString(dir.resolve("parameters.json")))
      else Map.empty[String, Any]
    val transforms = ConfigTree.parse(
      Files.readString(dir.resolve("transformations.json")))
    (defaults, transforms)
  }

  /** Variant ("analysis-mod") overlay: the variant dir's files merge
    * right-biased over the base analysis' (manage.py:206-332). */
  def loadVariant(baseName: String, variantDir: Path): (Tree, Tree) = {
    val (baseDefaults, baseTransforms) = load(baseName)
    def overlay(file: String, base: Tree): Tree = {
      val p = variantDir.resolve(file)
      if (Files.exists(p))
        ConfigTree.deepMerge(base, ConfigTree.parse(Files.readString(p)))
      else base
    }
    (overlay("parameters.json", baseDefaults),
      overlay("transformations.json", baseTransforms))
  }
}

object AnalysisRegistry {
  /** The registry directory of the CLI mains: `GRAFT_REGISTRY` in
    * `env`, else `~/.graft/analyses`. */
  def defaultDir(env: Map[String, String]): String =
    env.getOrElse("GRAFT_REGISTRY", sys.props("user.home") + "/.graft/analyses")
}
