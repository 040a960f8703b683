package graft

import scala.collection.mutable.ArrayBuffer

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.util.sketch.BloomFilter

/** `spark.sql.extensions=graft.GraftExtensions` must give a session the
  * same native functions that [[GraftFunctions.ensureRegistered]]
  * registers imperatively, each one callable from SQL. */
class ExtensionsSpec extends SparkFunSuite {
  test("GraftExtensions injects graft_cosine at session build") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    // note: getOrCreate may return the existing session; the function must
    // resolve either way (injected or registry-registered)
    graft.functions.GraftFunctions.ensureRegistered(s2)
    val r = s2.sql("SELECT graft_cosine(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    // the other native functions resolve from SQL too
    val row = s2.sql(
      "SELECT graft_minhash_sig(array('a','b'), 4) AS m, " +
        "graft_simhash64(array('a','b')) AS s, " +
        "graft_hyperplane_sig(array(1.0D, -2.0D), 8) AS h").collect()(0)
    assert(row.getSeq[Long](0).length == 4)
    assert(!row.isNullAt(1) && !row.isNullAt(2))
  }

  test("GraftExtensions injects every function ensureRegistered registers; each resolves from spark.sql") {
    type Description = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)
    val injected = ArrayBuffer.empty[Description]
    val recorder = new SparkSessionExtensions {
      override def injectFunction(d: Description): Unit = injected += d
    }
    new graft.GraftExtensions().apply(recorder)

    // a new session with no graft_ function (an earlier extension-built
    // session may have left them in the shared extensions)
    def bare() = {
      val s = spark.newSession()
      val reg = s.sessionState.functionRegistry
      reg.listFunction().filter(_.funcName.startsWith("graft_"))
        .foreach(reg.dropFunction)
      (s, reg)
    }

    // the names ensureRegistered adds to such a session
    val (fresh, freshReg) = bare()
    val before = freshReg.listFunction().toSet
    GraftFunctions.ensureRegistered(fresh)
    val registered = (freshReg.listFunction().toSet -- before).map(_.funcName)
    assert(registered.size == 14)
    val names = injected.map(_._1.funcName)
    assert(names.distinct.size == names.size, s"duplicate injections: $names")
    assert(names.toSet == registered)

    // a session holding only the injected builders answers every call
    val bloom = BloomFilter.create(16)
    bloom.putString("x")
    val bytes = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytes)
    val bloomHex = bytes.toByteArray.map(b => f"$b%02X").mkString
    val calls = Map(
      GraftFunctions.CosineName -> "array(3.0D, 4.0D), array(3.0D, 4.0D)",
      GraftFunctions.HyperplaneName -> "array(1.0D, -2.0D), 8",
      GraftFunctions.MinHashName -> "array('a', 'b'), 4",
      GraftFunctions.SimHashName -> "array('a', 'b')",
      GraftFunctions.GramStatsName -> "array('a', 'b', 'a')",
      GraftFunctions.SigOverlapName -> "array(1L, 2L), array(1L, 3L)",
      GraftFunctions.WordShinglesName -> "array('a', 'b', 'c'), 2, true",
      GraftFunctions.BloomName -> s"'x', X'$bloomHex'",
      GraftFunctions.NormalizeTextName -> "'École', true, true",
      GraftFunctions.C4CleanName ->
        "'one two three four.', 3, array('.'), array('lorem'), array('javascript')",
      GraftFunctions.GopherName -> "'the cat sat on the mat', array('the', 'on')",
      GraftFunctions.RollingWindowFpsName -> "array('a', 'b', 'c'), 2",
      GraftFunctions.CharEntropyName -> "'abc'",
      GraftFunctions.WinnowingFpsName -> "array('a', 'b', 'c', 'd'), 2, 2")
    assert(calls.keySet == registered)
    val (s, reg) = bare()
    injected.foreach { case (id, info, build) => reg.registerFunction(id, info, build) }
    injected.foreach { case (id, _, _) =>
      val row = s.sql(s"SELECT ${id.funcName}(${calls(id.funcName)})").collect()(0)
      assert(!row.isNullAt(0), s"${id.funcName} returned null")
    }
    assert(s.sql(s"SELECT ${GraftFunctions.BloomName}(${calls(GraftFunctions.BloomName)})")
      .collect()(0).getBoolean(0))
    assert(s.sql(s"SELECT ${GraftFunctions.NormalizeTextName}(" +
      s"${calls(GraftFunctions.NormalizeTextName)})").collect()(0).getString(0) == "ecole")
  }
}
