package graft.write

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pre-commit validation: user-supplied checks that run AFTER a write's
  * files are written but BEFORE its instant completes; a failure aborts
  * the commit (written files removed, timeline untouched), so a bad batch
  * can never become visible (reference analog:
  * hudi-client/hudi-spark-client/src/main/java/org/apache/hudi/client/
  * validator/SparkPreCommitValidator.java:72 + the
  * hoodie.precommit.validators config family,
  * HoodiePreCommitValidatorConfig.java:42).
  *
  * `before` is the table's current snapshot; `after` is the hypothetical
  * snapshot with the pending commit applied. Both include the meta
  * columns. Implementations throw [[PreCommitValidationException]] on
  * failure.
  */
trait PreCommitValidator {
  def name: String
  def validate(spark: SparkSession, before: DataFrame, after: DataFrame): Unit
}

class PreCommitValidationException(msg: String) extends RuntimeException(msg)

/** SQL validators: each query contains the `<TABLE_NAME>` placeholder and
  * runs against registered temp views of the before/after states
  * (reference analog: SqlQueryPreCommitValidator.java:57 — placeholder
  * substitution over temp views, one view pair per validation). */
object SqlValidator {
  val TableVariable = "<TABLE_NAME>"
  private val counter = new AtomicInteger(0)

  private[write] def withViews[A](
      spark: SparkSession, before: DataFrame, after: DataFrame)(
      f: (String, String) => A): A = {
    val id = counter.incrementAndGet()
    val bv = s"graft_validate_${id}_before"
    val av = s"graft_validate_${id}_after"
    before.createOrReplaceTempView(bv)
    after.createOrReplaceTempView(av)
    try f(bv, av)
    finally {
      spark.catalog.dropTempView(bv)
      spark.catalog.dropTempView(av)
    }
  }
}

/** Each query must return the SAME result on the before and after views
  * — an invariant the write may not disturb, e.g.
  * `SELECT count(*) FROM <TABLE_NAME> WHERE price < 0` (reference analog:
  * SqlQueryEqualityPreCommitValidator.java:47). */
class SqlQueryEqualityValidator(queries: Seq[String]) extends PreCommitValidator {
  def name = "sql_equality"
  def validate(spark: SparkSession, before: DataFrame, after: DataFrame): Unit =
    SqlValidator.withViews(spark, before, after) { (bv, av) =>
      queries.foreach { q =>
        val b = spark.sql(q.replace(SqlValidator.TableVariable, bv))
        val a = spark.sql(q.replace(SqlValidator.TableVariable, av))
        // symmetric difference, counted once on each side: order-free
        // result-set equality without a driver-side collect of data rows
        val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        if (diff != 0)
          throw new PreCommitValidationException(
            s"equality validator failed for '$q': $diff differing rows between " +
              "pre-commit and post-commit states")
      }
    }
}

/** Each query must return DIFFERENT results before vs after — proof the
  * write had the intended effect (reference analog:
  * SqlQueryInequalityPreCommitValidator.java:48). */
class SqlQueryInequalityValidator(queries: Seq[String]) extends PreCommitValidator {
  def name = "sql_inequality"
  def validate(spark: SparkSession, before: DataFrame, after: DataFrame): Unit =
    SqlValidator.withViews(spark, before, after) { (bv, av) =>
      queries.foreach { q =>
        val b = spark.sql(q.replace(SqlValidator.TableVariable, bv))
        val a = spark.sql(q.replace(SqlValidator.TableVariable, av))
        val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        if (diff == 0)
          throw new PreCommitValidationException(
            s"inequality validator failed for '$q': pre-commit and post-commit " +
              "states are identical")
      }
    }
}

/** `query#expectedValue` pairs: the query runs on the AFTER view and must
  * return a single cell equal to the expected string (reference analog:
  * SqlQuerySingleResultPreCommitValidator.java:56). */
class SqlQuerySingleResultValidator(queriesWithExpected: Seq[String])
    extends PreCommitValidator {
  def name = "sql_single_result"
  def validate(spark: SparkSession, before: DataFrame, after: DataFrame): Unit =
    SqlValidator.withViews(spark, before, after) { (_, av) =>
      queriesWithExpected.foreach { spec =>
        // split at the LAST '#': the query text may itself contain '#'
        // (string literals, comments) — the reference's format puts the
        // expected value after the final separator
        val cut = spec.lastIndexOf('#')
        require(cut > 0 && cut < spec.length - 1,
          s"expected 'query#expected', got: $spec")
        val (q, expected) = (spec.substring(0, cut), spec.substring(cut + 1))
        val rows = spark.sql(q.replace(SqlValidator.TableVariable, av)).collect()
        val ok = rows.length == 1 && rows(0).size == 1 &&
          Option(rows(0).get(0)).map(_.toString).contains(expected)
        if (!ok) {
          val got =
            if (rows.length == 1 && rows(0).size == 1) String.valueOf(rows(0).get(0))
            else s"${rows.length} rows"
          throw new PreCommitValidationException(
            s"single-result validator failed for '$q': expected $expected, got $got")
        }
      }
    }
}
