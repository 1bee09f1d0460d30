package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Timestamp
import scala.util.Random

/** Deterministic albedo-shaped synthetic tables (FIXTURES.md §A):
  * raw_user_info / raw_repo_info / raw_starring with the post-rename
  * engine schema (reference: src/main/scala/ws/vinta/albedo/utils/
  * DatasetUtils.scala:58-106 rename layer; schemas/package.scala:4-54).
  *
  * Generator properties (seed-fixed):
  *  - nullable user fields carry real nulls (impute paths);
  *  - bios sample the reference's keyword lists (LIKE-flag paths,
  *    UserProfileBuilder.scala:80-92);
  *  - companies/locations include TLD-suffixed and CJK strings
  *    (cleanCompany/cleanLocation paths);
  *  - repo stars straddle the filter edges 30/1000/90000/290000;
  *  - starrings are power-law per user with language affinity (ALS has
  *    signal to find) and strictly distinct per-user timestamps
  *    (rank-window determinism, SURVEY §7.4).
  */
object AlbedoFixtures {

  /** Stable on-disk copy of the generated fixtures, so the DuckDB
    * oracle can read the exact bytes the engine computed from (the
    * q49/q50 oracles reference these paths via read_parquet).
    * Overwritten on every call — the generator is seed-fixed, so the
    * contents are identical across runs; overwrite just guards against
    * stale copies from older generator versions. Lives under the JVM's
    * working directory (`sbt` runs and tests fork in the checkout's
    * root), so each checkout publishes into its own `target/`. */
  val persistDir: String = java.nio.file.Paths
    .get(System.getProperty("user.dir"), "target", "albedo_fixtures").toString

  def persist(spark: SparkSession): Unit = {
    // publish (atomic make-equal), not overwrite: identical bytes are
    // kept in place so a concurrent driver's readers never lose part
    // files; stale copies from older generator versions are still
    // replaced (VERDICT r15 #1 — the q90 flake class)
    graft.sources.Snapshots.publish(users(spark).coalesce(1),
      s"$persistDir/users.parquet")
    graft.sources.Snapshots.publish(repos(spark).coalesce(1),
      s"$persistDir/repos.parquet")
    graft.sources.Snapshots.publish(starrings(spark).coalesce(1),
      s"$persistDir/starrings.parquet")
  }

  /** Read-back views of the persisted fixtures (parquet round-trip on
    * both sides keeps timestamp precision identical for the oracle).
    * r17: the read-back HANDLE is session-memoized like Tables.apply —
    * schema inference once per session, every action still scans the
    * persisted parquet (no data caching). */
  def usersP(spark: SparkSession): DataFrame =
    graft.ml.ModelMemo.cached(spark, s"fixture:$persistDir/users") {
      persistOnce(spark); spark.read.parquet(s"$persistDir/users.parquet")
    }
  def reposP(spark: SparkSession): DataFrame =
    graft.ml.ModelMemo.cached(spark, s"fixture:$persistDir/repos") {
      persistOnce(spark); spark.read.parquet(s"$persistDir/repos.parquet")
    }
  def starringsP(spark: SparkSession): DataFrame =
    graft.ml.ModelMemo.cached(spark, s"fixture:$persistDir/starrings") {
      persistOnce(spark); spark.read.parquet(s"$persistDir/starrings.parquet")
    }

  @volatile private var persisted = false
  private def persistOnce(spark: SparkSession): Unit = synchronized {
    if (!persisted) { persist(spark); persisted = true }
  }

  case class User(user_id: Int, user_login: String, user_account_type: String,
      user_company: String, user_location: String, user_email: String,
      user_bio: String, user_public_repos_count: Int,
      user_followers_count: Int, user_following_count: Int,
      user_created_at: Timestamp, user_updated_at: Timestamp)

  case class Repo(repo_id: Int, repo_owner_id: Int, repo_name: String,
      repo_language: String, repo_description: String,
      repo_stargazers_count: Int, repo_forks_count: Int,
      repo_is_fork: Boolean, repo_topics: String,
      repo_created_at: Timestamp, repo_updated_at: Timestamp)

  case class Starring(user_id: Int, repo_id: Int, starred_at: Timestamp,
      starring: Double)

  private val bioKeywords = Seq("fullstack", "machine learning", "phd",
    "backend", "frontend", "data scientist", "devops")
  private val companies = Seq("Acme Inc.", "foo.com", "formerly Bar LLC",
    "谷歌", "", null, "Initech Corp", "globex.io")
  private val locations = Seq("San Francisco, CA", "Taipei City", "Berlin",
    "東京", null, "", "New York, NY")
  private val languages = Seq("scala", "python", "javascript", "go", "rust",
    "java", "c++", "ruby", "elixir", "zig")
  private val snapshot = Timestamp.valueOf("2017-09-01 00:00:00")

  private def ts(daysAgo: Int, sec: Int): Timestamp =
    new Timestamp(snapshot.getTime - daysAgo * 86400000L + sec * 1000L)

  def users(spark: SparkSession, n: Int = 300, seed: Long = 42): DataFrame = {
    import spark.implicits._
    val rnd = new Random(seed)
    (1 to n).map { i =>
      val bio = if (rnd.nextDouble() < 0.4)
        s"I am a ${bioKeywords(rnd.nextInt(bioKeywords.size))} developer"
      else if (rnd.nextDouble() < 0.2) null else "plain profile"
      User(i, s"user$i",
        if (rnd.nextDouble() < 0.1) "Organization" else "User",
        companies(rnd.nextInt(companies.size)),
        locations(rnd.nextInt(locations.size)),
        if (rnd.nextDouble() < 0.3) null else s"u$i@example$i.org",
        bio,
        rnd.nextInt(200),
        math.max(0, (math.pow(rnd.nextDouble(), 3) * 5000).toInt),
        rnd.nextInt(300),
        ts(1000 + rnd.nextInt(2000), i),
        ts(rnd.nextInt(900), i))
    }.toDF()
  }

  def repos(spark: SparkSession, n: Int = 500, seed: Long = 43): DataFrame = {
    import spark.implicits._
    val rnd = new Random(seed)
    val starEdges = Seq(5, 30, 40, 100, 1000, 90000, 100000, 290000, 300000)
    (1 to n).map { i =>
      val lang = languages(i % languages.size)
      val stars = if (i <= starEdges.size) starEdges(i - 1)
        else math.max(1, (math.pow(rnd.nextDouble(), 4) * 50000).toInt)
      Repo(i, rnd.nextInt(300) + 1, s"repo$i", lang,
        if (rnd.nextDouble() < 0.1) "unmaintained legacy project"
        else if (rnd.nextDouble() < 0.1) s"my blog about $lang"
        else s"a $lang library for data processing $i",
        stars, stars / 10,
        rnd.nextDouble() < 0.1,
        if (rnd.nextDouble() < 0.3) "" else s"$lang,data,tools",
        ts(500 + rnd.nextInt(1500), i),
        ts(rnd.nextInt(400), i))
    }.toDF()
  }

  /** Power-law starrings with language affinity: each user has 1-2
    * preferred languages; 80% of their stars land there. */
  def starrings(spark: SparkSession, nUsers: Int = 300, nRepos: Int = 500,
      seed: Long = 44): DataFrame = {
    import spark.implicits._
    val rnd = new Random(seed)
    val reposByLang = (1 to nRepos).groupBy(r => languages(r % languages.size))
    val rows = (1 to nUsers).flatMap { u =>
      val nStars = math.max(1, (math.pow(rnd.nextDouble(), 2) * 60).toInt)
      val prefs = Seq(languages(rnd.nextInt(languages.size)),
        languages(rnd.nextInt(languages.size)))
      val repoIds = (0 until nStars).map { s =>
        if (rnd.nextDouble() < 0.8) {
          val pool = reposByLang(prefs(rnd.nextInt(2)))
          pool(rnd.nextInt(pool.size))
        } else rnd.nextInt(nRepos) + 1
      }.distinct
      repoIds.zipWithIndex.map { case (r, idx) =>
        // strictly distinct per-user timestamps
        Starring(u, r, ts(rnd.nextInt(700) + 1, idx * 7 + u % 7), 1.0)
      }
    }
    rows.toDF()
  }
}
