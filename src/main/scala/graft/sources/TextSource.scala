package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._

/** Reference-parity text source/sink.
  *
  * Source: the reference reads local text files line-by-line and feeds map
  * functions (file, contents) records (/root/reference/master.py:25-38,
  * mapper_node.py:81-82). Both readers are Spark's text file source with
  * `input_file_name()` as `file`:
  *   - `readLines` is the line-level scan;
  *   - `readDocuments` is the (file, contents) record shape, the same scan
  *     with `wholetext` on (one row per file, never split).
  *
  * The file list is taken once, when the relation resolves
  * (`InMemoryFileIndex`); no per-job input-split computation runs. Files are
  * packed into read partitions by `spark.sql.files.maxPartitionBytes` /
  * `openCostInBytes` / `minPartitionNum`, which spreads a directory of small
  * files over about `defaultParallelism` tasks, so the map phase of every
  * job that reads documents runs on all cores.
  *
  * `file` is the scan's URL-encoded path URI (`file:///dir/name.txt` for a
  * local file), the same string for both readers.
  *
  * Sink: the reference writes `key\tvalue` lines into one consolidated text
  * file (/root/reference/reducer_node.py:25-26, master.py:166-173).
  */
object TextSource {

  /** (file, line) records. */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .select(input_file_name().as("file"), col("line"))

  /** (file, text) whole-document records — the reference map fn's input
    * contract (doc_id, contents): one row per non-hidden file, the bytes
    * decoded as UTF-8 with a BOM kept as `\uFEFF`.
    *
    * The file source reads no row from a zero-length file, but the
    * reference frames an empty file as a document of its own
    * (master.py:37, `#\r#path#\r#`). Those files come from the index the
    * scan already listed, with no second listing and no job, and are
    * unioned in as `(file, "")` rows only when there are any, so the plan
    * of a corpus without empty files is the plain scan.
    */
  def readDocuments(spark: SparkSession, path: String): DataFrame = {
    val scan = spark.read.option("wholetext", "true").text(path)
    val docs = scan.select(input_file_name().as("file"), col("value").as("text"))
    val listed = scan.queryExecution.analyzed match {
      case LogicalRelation(HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        i.allFiles()
    }
    // the same URI string input_file_name() yields for a scanned file
    val empty = listed.filter(_.getLen == 0)
      .map(f => (SparkPath.fromPath(f.getPath).urlEncoded, ""))
    if (empty.isEmpty) docs
    else {
      import spark.implicits._
      docs.union(empty.toDF("file", "text"))
    }
  }

  /** Tab-separated text sink (`k\tv...` lines). `singleFile` coalesces to
    * one partition for byte-level parity with the reference's consolidated
    * output — never do that at scale; default keeps parallel part files.
    */
  def writeTsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    // coalesce each field: concat_ws SKIPS null arguments (it does not
    // emit an empty field), so an un-coalesced NULL column would shift
    // every later field left and silently misalign the TSV
    val line = concat_ws("\t",
      df.columns.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
    val out = df.select(line.as("value"))
    (if (singleFile) out.coalesce(1) else out)
      .write.mode(SaveMode.Overwrite).text(path)
  }

  /** Byte-parity framing of the reference's consolidated inverted-index
    * output: `word\t['./book3.txt', './myfile.txt']` — the Python list repr
    * its reducer emits (/root/reference/output/output_sample.txt:1,
    * mapreduce_inverted.py:11 `list(set(...))`). The reference's file ORDER
    * inside the brackets is Python set-iteration order (run-dependent);
    * this writer emits the sorted refinement so the bytes are reproducible.
    * Escaping matches Python str repr for the path charset (no quotes/
    * backslashes in file paths — true of the reference corpus).
    */
  def writePythonReprIndex(df: DataFrame, wordCol: String, filesCol: String,
                           path: String, singleFile: Boolean = false): Unit = {
    val repr = concat(lit("["),
      array_join(transform(array_sort(col(filesCol)),
        f => concat(lit("'"), f, lit("'"))), ", "),
      lit("]"))
    writeTsv(df.select(col(wordCol), repr.as("files_repr")), path, singleFile)
  }
}
