"""Generator determinism per seed, and the properties the checks rely on."""

import string

import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def vocab():
    return gen.make_vocab(7)


@pytest.fixture(scope="module")
def docs(vocab):
    return gen.plan_corpus(7, 300, vocab)


def test_same_seed_same_inputs(vocab, docs):
    assert gen.make_vocab(7) == vocab
    assert gen.plan_corpus(7, 300, vocab) == docs
    assert gen.make_queries(docs, 7, 10) == gen.make_queries(docs, 7, 10)
    assert gen.render_payload(docs[3]) == gen.render_payload(docs[3])


def test_other_seed_other_inputs(vocab, docs):
    assert gen.make_vocab(8) != vocab
    other = gen.plan_corpus(8, 300, gen.make_vocab(8))
    assert [d.text for d in other] != [d.text for d in docs]
    assert gen.make_queries(other, 8, 10) != gen.make_queries(docs, 7, 10)


def test_vocabulary_is_large_printable_and_keeps_quirk_words(vocab):
    from studiocr_spark.gen import VOCAB

    assert len(vocab) == len(set(vocab)) == gen.VOCAB_SIZE
    printable = set(string.printable) - set(string.whitespace)
    assert all(set(w) <= printable for w in vocab)
    assert not any(gen.ABSENT_MARK in w for w in vocab)
    assert set(VOCAB) <= set(vocab[:3000])


def test_corpus_mix(docs):
    n = len(docs)
    assert sum(d.bad is not None for d in docs) == round(gen.BAD_FRACTION * n)
    assert 0.2 < sum("//host0." in d.url for d in docs) / n < 0.4
    assert 0.04 < sum(d.n_pages > 1 for d in docs) / n < 0.16
    assert len({d.url for d in docs}) == n
    for d in docs:
        assert " ".join(d.page_texts()) == d.text


def test_zipf_gives_many_distinct_terms(docs):
    df = gen.term_doc_freq(docs)
    assert len(df) > 10_000
    top = max(df.values())
    assert top > 0.5 * len(docs) and min(df.values()) == 1


def test_bad_payloads_fail_decode_and_good_ones_roundtrip(docs):
    from studiocr_spark.sources.decode import bitmap_decode

    for d in docs[:40] + [d for d in docs if d.bad]:
        payload = gen.render_payload(d)
        if d.bad:
            with pytest.raises(Exception):
                bitmap_decode(payload)
        else:
            pages = bitmap_decode(payload)
            assert " ".join(text for _png, _data, text in pages) == d.text
            assert sum(len(data["text"]) for _p, data, _t in pages) == (
                gen.expected_raw_blocks(d)
            )


def test_block_rows_match_the_decoder(docs):
    from studiocr_spark.sources.decode import bitmap_decode

    d = next(d for d in docs if d.bad is None and d.n_pages > 1)
    rows = gen.block_rows(d)
    decoded = bitmap_decode(gen.render_payload(d))
    assert rows["text"] == [t for _p, data, _t in decoded for t in data["text"]]
    assert len(rows["url"]) == gen.expected_raw_blocks(d)


def test_query_mix_cycles_kinds_and_covers_bands(docs):
    qs = gen.make_queries(docs, 7, 10)
    assert len(qs) == 40
    assert [q.kind for q in qs[:8]] == list(gen.QUERY_KINDS) * 2
    for i in range(0, len(qs), 4):
        scan, indexed = qs[i], qs[i + 1]
        assert scan.text == indexed.text
    assert {q.band for q in qs} == set(gen.BANDS)
    good = {d.url for d in docs if d.bad is None}
    assert all(q.url in good for q in qs if q.kind == "indoc")
    assert all(gen.ABSENT_MARK in q.text for q in qs if q.band == "absent")


def test_content_hash_is_order_independent():
    pairs = [("u1", "a b"), ("u2", "c")]
    assert gen.content_hash(pairs) == gen.content_hash(reversed(pairs))
    assert gen.content_hash(pairs) != gen.content_hash([("u1", "a b"), ("u2", "d")])
