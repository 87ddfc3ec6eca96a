package graft.cli

import graft.registry.AnalysisRegistry
import java.nio.file.Paths

/** Analysis-catalog CLI — `cosmap install/uninstall/list` parity
  * (/root/reference/src/cosmap/entrypoint.py:13-85 →
  * /root/reference/src/cosmap/api/cmds.py:11-65). Pure driver-side;
  * no Spark session.
  *
  * Usage:
  *   Analyses install <dir> [name]
  *   Analyses uninstall <name>
  *   Analyses list
  *   Analyses locate <name>
  * Registry dir: $GRAFT_REGISTRY or ~/.graft/analyses.
  */
object Analyses {
  def main(args: Array[String]): Unit = {
    val reg = new AnalysisRegistry(Paths.get(AnalysisRegistry.defaultDir(sys.env)))
    args.toList match {
      case "install" :: dir :: rest =>
        val name = reg.install(Paths.get(dir), rest.headOption)
        println(s"""Analysis "$name" installed successfully.""")
      case "uninstall" :: name :: Nil =>
        reg.uninstall(name)
        println(s"""Analysis "$name" uninstalled.""")
      case "list" :: Nil =>
        reg.list().foreach(println)
      case "locate" :: name :: Nil =>
        println(reg.locate(name))
      case _ =>
        System.err.println(
          "usage: Analyses install <dir> [name] | uninstall <name> | list | locate <name>")
        sys.exit(2)
    }
  }
}
