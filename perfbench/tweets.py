"""Tweet drops for the ``tweet_stream`` workload: rendering, and
reading back what the pipeline's file sink committed.

Every drop is one NDJSON file. Its tweets are a pure function of
``(seed, tag, first_id, count)``, so the checker re-renders exactly what
the generator wrote instead of shipping a manifest of every tweet.
"""

from __future__ import annotations

import functools
import os
import random

from sparklog import read_sink_log

#: tweet text vocabulary: the fixture's document words, which hold the
#: sentiment lexicon's positive and negative words
from fixtures import VOCAB

EN_SHARE = 0.8


@functools.lru_cache(maxsize=2)
def _texts(seed: int, n: int = 4096) -> list[str]:
    rng = random.Random(f"texts:{seed}")
    return [" ".join(rng.choices(VOCAB, k=rng.randint(5, 20))) for _ in range(n)]


def render(seed: int, tag: str, first_id: int, count: int) -> list[tuple[int, str, str]]:
    """``(id, lang, text)`` of one drop's tweets."""
    texts = _texts(seed)
    rng = random.Random(f"{seed}:{tag}:{first_id}")
    out = []
    for i in range(first_id, first_id + count):
        lang = "en" if rng.random() < EN_SHARE else "es"
        out.append((i, lang, texts[rng.randrange(len(texts))]))
    return out


def ndjson(tweets: list[tuple[int, str, str]], created_at: str) -> str:
    return "".join(
        f'{{"id":{i},"text":"{text}","lang":"{lang}","created_at":"{created_at}"}}\n'
        for i, lang, text in tweets
    )


def drop(path: str, staging: str, body: str) -> None:
    """Write a drop into ``staging`` and rename it into place, so the
    file source never lists a half-written file (both directories are
    on one filesystem, where rename is atomic)."""
    tmp = os.path.join(staging, os.path.basename(path))
    with open(tmp, "w") as f:
        f.write(body)
    os.rename(tmp, path)


#: the sink columns read back, with their types
SINK_SCHEMA = {
    "id": "int64",
    "lang": "string",
    "text": "string",
    "sentiment": "string",
    "score_positive": "double",
    "score_negative": "double",
    "score_neutral": "double",
    "score_mixed": "double",
}
SCORES = ("sentiment", "score_positive", "score_negative", "score_neutral", "score_mixed")


def committed_table(output_dir: str):
    """Every row the file sink committed, read through its metadata
    log, with the ``batch`` that committed it."""
    import pyarrow as pa
    from pyarrow import json as pajson

    schema = pa.schema(list(SINK_SCHEMA.items()))
    opts = pajson.ParseOptions(explicit_schema=schema, unexpected_field_behavior="ignore")
    parts = [schema.empty_table().append_column("batch", pa.array([], pa.int64()))]
    for batch_id, _, paths in read_sink_log(os.path.join(output_dir, "_spark_metadata")):
        for p in paths:
            t = pajson.read_json(p.removeprefix("file:"), parse_options=opts)
            parts.append(t.append_column("batch", pa.array([batch_id] * t.num_rows, pa.int64())))
    return pa.concat_tables(parts)


def expected_table(tweets_: list[tuple[int, str, str]]):
    """``(id, exp_lang, exp_text)`` of every tweet dropped."""
    import pyarrow as pa

    ids, langs, texts = zip(*tweets_)
    return pa.table(
        {"id": pa.array(ids, pa.int64()), "exp_lang": list(langs), "exp_text": list(texts)}
    )


def check_rows(rows, expected, score_text) -> list[str]:
    """Problems with the sink's rows (a ``committed_table``) against the
    ``expected_table``: every ``en`` tweet must land exactly once with
    its own text, no other language may land, and the five sentiment
    columns must equal ``score_text(text)``."""
    import pyarrow.compute as pc

    problems = []
    counts = rows.group_by("id").aggregate([("id", "count")])
    dup = counts.filter(pc.greater(counts["id_count"], 1))
    if dup.num_rows:
        problems.append(f"{dup.num_rows} tweets landed more than once, e.g. id {dup['id'][0]}")
    j = rows.join(expected, "id", join_type="left outer")
    unknown = j.filter(pc.is_null(j["exp_lang"]))
    if unknown.num_rows:
        problems.append(f"{unknown.num_rows} rows with unknown ids, e.g. {unknown['id'][0]}")
    j = j.filter(pc.is_valid(j["exp_lang"]))
    not_en = j.filter(pc.or_(pc.not_equal(j["exp_lang"], "en"), pc.not_equal(j["lang"], "en")))
    if not_en.num_rows:
        problems.append(f"{not_en.num_rows} non-en tweets landed, e.g. id {not_en['id'][0]}")
    changed = j.filter(pc.not_equal(j["text"], j["exp_text"]))
    if changed.num_rows:
        problems.append(f"{changed.num_rows} texts changed, e.g. id {changed['id'][0]}")
    en = expected.filter(pc.equal(expected["exp_lang"], "en"))
    missing = en.join(rows.select(["id"]), "id", join_type="left anti")
    if missing.num_rows:
        problems.append(f"{missing.num_rows} en tweets missing, e.g. id {missing['id'][0]}")
    # texts repeat (a seeded pool): score each distinct row shape once
    for r in rows.group_by(["text", *SCORES]).aggregate([]).to_pylist():
        got = tuple(r[c] for c in SCORES)
        if got != score_text(r["text"]):
            problems.append(f"sentiment {got} != {score_text(r['text'])} for {r['text']!r}")
    return problems
