package graft.gates

import java.nio.charset.StandardCharsets

/** The file half of the gate catalogue, read from the classpath under
  * `gates/` (`src/main/resources/gates`):
  *  - `INDEX`: one `<name> <output collection>` line per config-only
  *    gate (classpath directories cannot be listed portably);
  *  - `<name>.yaml`: that gate's pipeline config, runnable as is with
  *    `graft.Run <file> --args dir=<sfDir>`;
  *  - `<name>.sql`: a gate's DuckDB oracle, for any gate whose oracle
  *    is plain SQL text.
  *
  * A file may open with a comment header (`#` lines in YAML, `--`
  * lines in SQL); it is dropped, as is the file's final newline. Only
  * the gate drivers read these files, never the engine. */
object GateFiles {

  /** Config-only gates in INDEX order: name -> (output, config). */
  lazy val configs: Seq[(String, (String, String))] =
    text("INDEX").getOrElse(
      throw new IllegalStateException("gates/INDEX is not on the classpath"))
      .linesIterator.filter(_.trim.nonEmpty).map { line =>
        line.trim.split("\\s+") match {
          case Array(name, out) =>
            name -> (out, text(s"$name.yaml").getOrElse(
              throw new IllegalStateException(
                s"gates/INDEX lists $name but gates/$name.yaml is missing")))
          case _ => throw new IllegalStateException(
            s"gates/INDEX line is not '<name> <output>': $line")
        }
      }.toSeq

  /** The oracle of every gate in `names`: its `gates/<name>.sql` file
    * or its entry in `generated` (SQL built by Scala helpers). A name
    * with both fails. */
  def oracles(names: Iterable[String],
      generated: Map[String, String]): Map[String, String] = {
    val files = names.flatMap(n => text(s"$n.sql").map(n -> _)).toMap
    val both = files.keySet intersect generated.keySet
    require(both.isEmpty, "gates with both a .sql file and a generated " +
      s"oracle: ${both.toSeq.sorted.mkString(", ")}")
    files ++ generated
  }

  /** `gates/<file>` without its comment header and final newline. */
  private def text(file: String): Option[String] =
    Option(getClass.getResourceAsStream(s"/gates/$file")).map { in =>
      val raw = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      val comment = if (file.endsWith(".sql")) "--" else "#"
      raw.linesWithSeparators.dropWhile(_.startsWith(comment)).mkString
        .stripSuffix("\n")
    }
}
