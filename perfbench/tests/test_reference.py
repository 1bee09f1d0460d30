"""perfbench/reference.py agrees with the engine's own DuckDB oracles
(q96 pipeline, q105 semantic dedup) on a corpus small enough for them.

Needs java and the Spark jars (it builds the engine to read the oracle
SQL through graft.tools.OracleDump)."""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402


def oracles(out):
    classes = build.build()
    subprocess.run(["java", "-cp", f"{classes}:{build.classpath()}",
                    "graft.tools.OracleDump", out,
                    "q96_llm_pipeline_e2e", "q105_semantic_dedup"],
                   check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        return json.load(f)


class ReferenceMatchesOracles(unittest.TestCase):
    def test_small_amplified_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            sql = oracles(d)
            docs, emb = gen.amplified_corpus(3, base=80, factor=2)
            gen.write(docs, os.path.join(d, "documents.parquet"))
            gen.write(emb, os.path.join(d, "embeddings.parquet"))
            con = checks.connect(d, ["documents"])
            chunks = con.execute(sql["q96_llm_pipeline_e2e"]).fetchdf()
            surv = chunks[["doc_id"]].drop_duplicates()
            con.register("survivors", surv)
            con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                        f"'{os.path.join(d, 'embeddings.parquet')}' "
                        "WHERE vec_id IN (SELECT doc_id FROM survivors)")
            keep = con.execute(
                f"SELECT vec_id FROM ({sql['q105_semantic_dedup']}) WHERE keep"
            ).fetchdf()
            expected = chunks[chunks["doc_id"].isin(set(keep["vec_id"]))]
            # the corpus exercises every stage
            self.assertLess(len(surv), len(docs))
            self.assertLess(len(keep), len(surv))
            got = reference.curate(docs.to_pandas()[["doc_id", "text"]],
                                   emb.to_pandas()[["vec_id", "embedding"]],
                                   cos_t=0.4)  # q105's threshold
            self.assertIsNone(checks.compare(got, expected))


if __name__ == "__main__":
    unittest.main()
