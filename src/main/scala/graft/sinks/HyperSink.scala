package graft.sinks

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

/** The pipeline's `.hyper` sink: each bundle becomes one extract
  * directory holding a single file, `<path>/extract.hyper`, written by
  * [[HyperBinary]] (the only module that knows the container format and
  * the Spark → Hyper type table). The reference sinks each bundle to one
  * `.hyper` file through the out-of-process hyperd daemon
  * (query_iterator.py:170-195); no JVM Hyper library exists, so the
  * container is this repo's own reproduction of the artifact's observable
  * structure (HYPER_FORMAT.md). Each table's query and combine run once:
  * [[HyperBinary.write]] collects the rows and nothing else reads them.
  */
class HyperEquivalentSink {

  /** CREATE_AND_REPLACE (query_iterator.py:173): afterwards `<path>`
    * holds exactly the new extract. The previous extract is replaced
    * only once the new file is complete, so an export that fails (row
    * cap, unmappable type) leaves it readable.
    */
  def write(path: String, tables: Seq[(String, DataFrame)]): Unit = {
    val root = Paths.get(path)
    Files.createDirectories(root)
    val extract = root.resolve("extract.hyper")
    HyperBinary.write(extract.toString, tables)
    Files.list(root).toArray(n => new Array[Path](n))
      .filterNot(_ == extract)
      .foreach(p => Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q)))
  }
}
