package graft.etl

import java.nio.file.Files
import java.security.MessageDigest

import graft.SparkSpec
import graft.sinks.JdbcConstraints
import org.apache.spark.sql.DataFrame

/** Content oracle for the FFI transform on the golden fixture: the SHA-256
  * of every catalog table after [[FfiTransform]] and of every
  * [[FfiPipeline.outputFrames]] frame, over its schema and its sorted rows.
  *
  * A row count cannot see a wrong cell; these hashes can. The one
  * nondeterministic column, the fresh `SampleData_Original_GUID` of every
  * sample-pivot row, is masked (its shape is checked in FfiPipelineSpec).
  * A plan rewrite of idents, the EAV pivots or the enrichment must leave
  * every hash unchanged; a deliberate semantic change updates the table
  * below and says why.
  */
class FfiContentOracleSpec extends SparkSpec {

  private val Masked = Set("SampleData_Original_GUID", "OriginalGUID")

  /** Hex SHA-256 of `df`'s schema (name:type, in order) and its rows,
    * each rendered with a null marker and sorted.
    */
  private def contentHash(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq
    val rows = df.collect().map { r =>
      fields.indices.map { i =>
        if (Masked(fields(i).name)) "<masked>"
        else if (r.isNullAt(i)) "\u0000null"
        else r.get(i).toString
      }.mkString("\u0001")
    }.sorted
    val header = fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val md = MessageDigest.getInstance("SHA-256")
    (header +: rows).foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private lazy val transformed: FfiCatalog = {
    val xml = Files.createTempDirectory("ffi_oracle").resolve("export.xml")
    Files.writeString(xml, FfiFixture.Xml)
    FfiTransform(FfiIdents(FfiExtract.extract(spark, xml.toString)))
  }

  private val constraints = JdbcConstraints(
    FfiFixture.mapping.tableMap.values.map(_ -> Seq("ID")).toMap, Map.empty)

  /** The names whose hash differs from `expected`, with the actual hash,
    * plus any name present on one side only.
    */
  private def diff(actual: Map[String, String], expected: Map[String, String]): Seq[String] =
    (actual.keySet ++ expected.keySet).toSeq.sorted.flatMap { t =>
      val a = actual.getOrElse(t, "<absent>")
      if (expected.get(t).contains(a)) None else Some(s""""$t" -> "$a"""")
    }

  test("every catalog table after FfiTransform matches its recorded content hash") {
    val actual = transformed.names.map(t => t -> contentHash(transformed(t))).toMap
    val bad = diff(actual, CatalogHashes)
    if (bad.nonEmpty) fail(bad.mkString("content differs:\n", ",\n", ""))
  }

  test("every FfiPipeline.outputFrames frame matches its recorded content hash") {
    val frames = FfiPipeline.outputFrames(transformed, FfiFixture.mapping, constraints)
    val actual = frames.map { case (t, df) => t -> contentHash(df) }
    val bad = diff(actual, FrameHashes)
    if (bad.nonEmpty) fail(bad.mkString("content differs:\n", ",\n", ""))
  }

  private val CatalogHashes: Map[String, String] = Map(
    "LocalSpecies" ->
      "6a5b61e983f15979d63dbcbc8377c3e21a4ca71ad20a9e00fc1e83b697cd5a13",
    "MM_MonitoringStatus_SampleEvent" ->
      "699cee8c829deab1df64a5255015973a329fb2f9399f9c913f03a562eec81709",
    "MacroPlot" ->
      "a57f4fd4ed760ef7d27953e6691ef4b1186aeb71370e0b74f0a9d5cdbc58ec08",
    "Method" ->
      "771471c8cc73b78b4131c33a56a55ebf1a4907bd37a74ae199f86d07dc3e7c07",
    "MethodAttribute" ->
      "f9845252d41fc7e6fc4d5aba20b92b082e320ffd2cf212c50218a98b409cae75",
    "MonitoringStatus" ->
      "93d6e046722ff34c4e80a41afefa0ea9a8f0d4960c6b1b46d6a71bf944ce9bfc",
    "ProjectUnit" ->
      "be11ad10df382ebb9316cdf2c814e5d82e1fabee546a1c633a0908372a2fa023",
    "ProjectVisit" ->
      "971f1e216a6ef145df5cc229c466a8eafe05caedb83d53286030dfbc81960ce3",
    "RegistrationUnit" ->
      "8ce217b84e03ea0749a23d0e2ba0942c92e9d383e73c66d7b1d25389378bd240",
    "SampleAttribute" ->
      "620133c9514e5864c939173e435f568fac8b6c932686d91fee7e41f5434ac4b6",
    "SampleEvent" ->
      "5f483bd75960c3f2ab477f3b63acc9ff1dc7d5f66aad510c209d72e517a73279",
    "Schema_Version" ->
      "9f2a4181d63831211f3f0a49189594cf67e5624121e9e582dfce0da144e1e5c4",
    "SurfaceFuels_Fine_Attribute" ->
      "59e0885748032c162b27e868c65459a3bcc5260daa6121fb22a998c8f3292b62",
    "SurfaceFuels_Fine_Metric_Attribute" ->
      "bb123af50c8ceda040595bbef51a5f597361797404f5717dafdd90eef3bea417",
    "SurfaceFuels_Fine_Metric_Sample" ->
      "66029cd3a6c7f6dd5d841686168b71d9d0e57c4ec17d16d9ee6dc57d8c733e3c",
    "SurfaceFuels_Fine_Sample" ->
      "e4154b1308f157f94089a1e72079486e55c93044cbebc08bb18bc67430b41021",
    "Transect" ->
      "136d15bf58a6dd8c16bdf2df70433cb862196a3f9bd40c5f7e03875299052892",
    "Trees_Individuals_Attribute" ->
      "abf2e13f6f9815f140320f7cca4442e06f3637b4d4498eb5ca25ebce97890b2f",
    "Trees_Individuals_Sample" ->
      "9ad9001a30f9783fb29c8eeabd8f1a5641e5abf87b2f52803ebf181c5bef5415")

  private val FrameHashes: Map[String, String] = Map(
    "ADMINUNIT" ->
      "09853c6d27377eafa1a766617c68b3d7d768beacd5ec8c992eb77ac4813b1f26",
    "EVENT" ->
      "2cb71e0b81ef00a7958fa5826548ea66bee36b1add873879aafc2873c0881a80",
    "FUELSFINE" ->
      "a40e092c6d941cba239fbab3e9ba52a0c5fb5425925adbc3ea1e5b88a39f5691",
    "FUELSFINEMETRIC" ->
      "9325ef8c97754d9e78ca289dfd357656b97cb7ca94ee0fe6d73de3ef3a67f458",
    "PLOT" ->
      "619d24719094dca0571f7ac89ba42311570f2dfaf87e05f73813aeeea5e55466",
    "PROJECT" ->
      "0016c06a732ee3ef2b17c130ef646bc68d1ad4d675f25b6816049d7982c9e619",
    "PROJECTVISIT" ->
      "4542caa6da03a18d1d95fd34a8f5fc0848400ed6f7b5764dc093deb3b2081e2a",
    "TRANSECT" ->
      "136d15bf58a6dd8c16bdf2df70433cb862196a3f9bd40c5f7e03875299052892",
    "TREESINDV" ->
      "0ed326f84b5fcb8fe21b9b3ca536fcf58a53829c441aea1ec302a83c83bda75b",
    "TREESSAMPLE" ->
      "378c735916dae9ae3ddc2f8f0451d7aa054f7df799ac13832e8555b574af2411")
}
