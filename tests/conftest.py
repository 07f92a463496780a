from __future__ import annotations

import pytest

from searchengine_spark.corpus import ensure_transcripts
from searchengine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("searchengine-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_sf0001_path() -> str:
    return ensure_transcripts(0.001)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_sf0001_path):
    return spark.read.parquet(transcripts_sf0001_path)


@pytest.fixture(scope="session")
def oracle_index(transcripts_sf0001_path):
    import pyarrow.parquet as pq

    from searchengine_spark.oracle import OracleIndex

    tbl = pq.read_table(transcripts_sf0001_path)
    docs = []
    for batch in tbl.to_pylist():
        batch["doc_id"] = f"{batch['conv_id']}:{batch['turn_idx']:04d}"
        docs.append(batch)
    return OracleIndex(docs)


@pytest.fixture(scope="session")
def live_stream(spark, transcripts, transcripts_sf0001_path, tmp_path_factory):
    """A ``StreamingIndex`` on the sf0.001 corpus with three unmerged
    deltas, and the version history a live-search oracle needs.

    - delta 1: four new docs (one an exact copy of a base doc that
      sorts before it), an upsert of a base doc, a base delete;
    - delta 2: an upsert of a doc delta 1 minted, one new doc;
    - delta 3 (delete-only, no postings): deletes a doc delta 1 minted
      and a base doc.

    Returns ``(index, versions, live)``: ``versions`` lists every
    version ever written as ``(doc_id, tokens)`` (the base docs first),
    ``live`` maps each doc_id to the index of its live version."""
    import json
    from collections import Counter

    import pyarrow.parquet as pq

    from searchengine_spark.oracle import tokenize
    from searchengine_spark.streaming import StreamingIndex

    versions, live, texts = [], {}, {}
    for r in pq.read_table(transcripts_sf0001_path, columns=["conv_id", "turn_idx", "text"]).to_pylist():
        doc_id = f"{r['conv_id']}:{r['turn_idx']:04d}"
        live[doc_id] = len(versions)
        versions.append((doc_id, tokenize(r["text"])))
        texts[doc_id] = r["text"]
    spark_docs = sorted(d for d, i in live.items() if "spark" in versions[i][1])
    upd, dele, dele2 = spark_docs[:3]
    # a base doc holding a term no other doc has: a delta copy under a
    # doc_id that sorts first ties it exactly (higher doc_int, lower doc_id)
    df = Counter(t for _, toks in versions for t in set(toks))
    twin = next(d for d, i in sorted(live.items())
                if "spark" not in versions[i][1] and any(df[t] == 1 for t in versions[i][1]))
    batches = [
        [("zoracle:0000", "zebraoracle spark run fresh"),
         ("a0000000:0000", texts[twin]),
         ("zoracle:0001", "zebraoracle zebraoracle"),
         ("zoracle:0002", "spark spark zebraoracle streamed turn"),
         (upd, "spark updated zebraoracle text"),
         (dele, None)],
        [("zoracle:0001", "zebraoracle rewritten spark"),
         ("zoracle:0003", "run spark file code test")],
        [("zoracle:0002", None), (dele2, None)],
    ]

    root = tmp_path_factory.mktemp("live_stream")
    src = root / "incoming"
    src.mkdir()
    s = StreamingIndex(spark, str(root / "store"))
    s.bootstrap(transcripts)
    seq = 0
    for i, batch in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for doc_id, text in batch:
                conv_id, turn = doc_id.split(":")
                doc = {"conv_id": conv_id, "turn_idx": int(turn), "role": "user",
                       "text": text or "", "tool": "", "ts": "2025-02-01T00:00:00"}
                f.write(json.dumps({"seq": seq, "doc_id": doc_id,
                                    "delete": text is None, "doc": doc}) + "\n")
                seq += 1
                live.pop(doc_id, None)
                if text is not None:
                    live[doc_id] = len(versions)
                    versions.append((doc_id, tokenize(text)))
        s.ingest_files(str(src))
    assert len(s.delta_ids()) == len(batches)
    return s, versions, live
