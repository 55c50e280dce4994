package graft.tools

import graft.convert.ConfFile
import graft.parser._
import java.nio.file.Paths

/** CLI: parse a SQL Server DDL dump and print the catalog summary.
  * Mirrors the reference's front half (sqlserver2pgsql.pl -f) — the DDL
  * emitters hang off the same Catalog (see graft.emit, and Main for the
  * full before/after/unsure run). Options are Main's (`-i`, `-num`,
  * `-camel_to_snake`, `-conf <file>`, …), read by `Main.buildJob`.
  *
  * Usage: runMain graft.tools.ParseDump <dump.sql> [Main options]
  */
object ParseDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: ParseDump <dump.sql> [options]"); sys.exit(2) }
    val file = args.head
    val conf =
      try Main.buildJob("-f" +: args.toSeq).config
      catch {
        case e: ConfFile.ConfException =>
          System.err.println(e.msg); sys.exit(2)
      }
    val cat =
      try new TsqlParser(conf).parseFile(Paths.get(file))
      catch {
        case e: ParseException =>
          System.err.println(s"parse error: ${e.getMessage}"); sys.exit(1)
          return
      }
    println(s"schemas: ${cat.schemas.keySet.toSeq.sorted.mkString(", ")}")
    cat.allTables.foreach { case (s, t) =>
      println(f"table $s.${t.name}: ${t.cols.size} cols, " +
        s"pk=${t.pk.map(_.cols.mkString("+")).getOrElse("-")}, " +
        s"lobs=${t.hasLobs}, indexes=${t.indexes.size}, " +
        s"constraints=${t.constraints.size}")
    }
    cat.schemas.toSeq.sortBy(_._1).foreach { case (sn, sd) =>
      sd.sequences.keys.toSeq.sorted.foreach(q => println(s"sequence $sn.$q"))
      sd.viewOrder.foreach(v => println(s"view $sn.$v"))
      sd.domains.toSeq.sortBy(_._1).foreach { case (d, ty) =>
        println(s"domain $sn.$d -> $ty") }
    }
    cat.warnings.foreach(w => println(s"WARNING: $w"))
  }
}
