package graft

import java.nio.file.{Files, Paths}

/** Fixture life listing pages for the ingest job specs. */
object LifePages {

  /** Write fixture life pages: `rows` (uin, name, docId) per page; docId 0
    * writes a row with no document link. Links are relative unless `base`
    * names a host.
    */
  def write(dir: String, pages: Seq[Seq[(String, String, Int)]], base: String = ""): Unit = {
    Files.createDirectories(Paths.get(dir))
    pages.zipWithIndex.foreach { case (rows, i) =>
      val trs = rows.map { case (uin, name, d) =>
        val link = if (d == 0) "" else s"<a href='$base/documents/doc$d.pdf'>Doc $d</a>"
        s"""<tr><td><input/></td><td>Non-Archived</td><td>FY 2020</td>
           |<td>Acme Life</td><td>$name</td><td>$uin</td><td>Term</td>
           |<td></td><td></td><td>P</td><td>Par</td><td>Ind</td><td></td>
           |<td>$link</td></tr>""".stripMargin.replace("\n", "")
      }.mkString
      Files.writeString(Paths.get(dir, s"page_${i + 1}.html"),
        s"<table class='table'><tbody>$trs</tbody></table>")
    }
  }
}
