package perfbench

import java.nio.file.{Files, Path}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Every digit of the measured value; JSON has no NaN or infinity. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Files2 {
  /** Regular files under `root`, following no links. */
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try { val it = s.iterator(); val b = Seq.newBuilder[Path]
        while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) b += p }
        b.result() }
      finally s.close()
    }

  /** Bytes stored under `root`, each inode counted once: index
    * versions share unchanged files through hard links. Spark's
    * `.crc` side files are left out. */
  def bytes(root: Path): Long =
    files(root).filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(p => (Files.getAttribute(p, "unix:ino"), Files.size(p))).toMap.values.sum

  def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close() }

  def count(root: Path): Int =
    files(root).count(p => !p.getFileName.toString.endsWith(".crc"))

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}

object Env {
  def load1m(): Double =
    scala.util.Try(new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
}
