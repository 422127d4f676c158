"""Property-based kernel tests (hypothesis).

The reference has no property testing (SURVEY §5); these pin the
invariants that the pinned-output unit tests cannot cover exhaustively
— above all the fast-vs-reference HTML differential on adversarial
tag soup (the byte-identity contract's fuzz gate).
"""

from hypothesis import given, settings, strategies as st

from rex_spark.kernels.hashing import (
    band_keys,
    band_keys_batch,
    minhash_params,
    minhash_signature,
    minhash_signatures_batch,
)
from rex_spark.kernels.spans import find_closest_span_pairs
from rex_spark.kernels.tagging import decode_tag_seq
from rex_spark.kernels.textnorm import (
    _html_to_text_reference,
    html_to_text,
    sent_seg,
)

# -- html differential ------------------------------------------------------

_tag_soup = st.lists(
    st.one_of(
        st.sampled_from(
            [
                "<p>", "</p>", "<div>", "</div>", "<br/>", "<nav>", "</nav>",
                "<script>", "</script>", "<style>", "</style>", "<b>", "</b>",
                "<P >", "</P>", "<a href='/x?a=1&b=2'>", "</a>", "<svg>",
                "</svg>", "<li>", "</li>", "<td >", "</td>",
                # bogus CDATA terminators: HTMLParser stays in CDATA on
                # these, so the fast path must too
                "</script foo>", "</script/>", "</style id=1>",
                "</script  >", "</ script>", "</scriptx>",
            ]
        ),
        st.text(
            alphabet="abc <>&;#xXeE1930\"'\n\t .!?中文。",
            min_size=0,
            max_size=12,
        ),
        st.sampled_from(["&amp;", "&lt;", "&#65;", "&bogus;", "&", "<", ">"]),
    ),
    max_size=25,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(_tag_soup)
def test_fast_html_differential(html):
    assert html_to_text(html) == _html_to_text_reference(html)


# -- sentence segmentation --------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab cd.!?'’”。！ \n", max_size=60),
       st.sampled_from(["en", "zh"]))
def test_sent_seg_preserves_non_whitespace(text, lang):
    pieces = sent_seg(text, lang=lang)
    squash = lambda s: "".join(s.split())  # noqa: E731
    assert squash("".join(pieces)) == squash(text)
    assert all(p.strip() == p and p for p in pieces)


# -- BIO decode -------------------------------------------------------------

_bio = st.lists(
    st.sampled_from(["O", "B-PER", "I-PER", "B-ORG", "I-ORG"]), max_size=20
)


@settings(max_examples=200, deadline=None)
@given(_bio)
def test_decode_tag_seq_spans_reconstruct(tags):
    chars = [chr(ord("a") + (i % 26)) for i in range(len(tags))]
    for surface, etype, (s, e) in decode_tag_seq(chars, tags):
        assert 0 <= s < e <= len(tags)
        assert etype in ("PER", "ORG")
        # for plain BIO input every span's surface is its char range
        assert surface == "".join(chars[s:e])
        assert tags[s].startswith("B-")


# -- span pairing -----------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.lists(st.booleans(), max_size=24), st.lists(st.booleans(), max_size=24))
def test_span_pairs_invariants(head_bits, tail_bits):
    head = [int(b) for b in head_bits]
    tail = [int(b) for b in tail_bits]
    pairs = find_closest_span_pairs(head, tail)
    heads = {i for i, v in enumerate(head) if v}
    tails = {i for i, v in enumerate(tail) if v}
    for s, e in pairs:
        assert s in heads and e in tails
    # forward rule: every head with some tail at-or-after it is paired
    for h in heads:
        if any(t >= h for t in tails):
            assert any(s == h for s, _ in pairs)
    # backtrace rule: every tail with some head at-or-before it appears
    for t in tails:
        if any(h <= t for h in heads):
            assert any(e == t for _, e in pairs)


# -- minhash batch == scalar ------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet="abcde ", min_size=1, max_size=8), max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_minhash_batch_equals_scalar(docs):
    params = minhash_params(32)
    batch = minhash_signatures_batch([set(d) for d in docs], params)
    for i, d in enumerate(docs):
        assert batch[i].tolist() == minhash_signature(sorted(set(d)), params)
    keys = band_keys_batch(batch, 8)
    for i in range(len(docs)):
        assert keys[i].tolist() == band_keys(batch[i].tolist(), 8)


@given(st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=0x2FF),
               min_size=1, max_size=24))
@settings(max_examples=60, deadline=None)
def test_emb_vector_text_roundtrip(token):
    """M8 kernel: any whitespace-free token's vector survives the
    word2vec text round-trip exactly — ACTUALLY written by
    write_embedding_text and parsed back the way the S6 reader does
    (decimal text -> double; Python float() and Spark's cast are both
    correctly-rounded, so equality here is equality there)."""
    import os
    import tempfile

    from rex_spark.operators.embeddings import (
        EMB_DIM,
        emb_vector,
        write_embedding_text,
    )

    # hypothesis can generate non-whitespace control chars the writer
    # must still round-trip; isspace()-true tokens are rejected by the
    # writer and out of scope here
    if any(c.isspace() for c in token):
        return
    vec = emb_vector(token)
    assert vec == emb_vector(token)  # deterministic
    assert all(-1.0 <= v <= 1.0 for v in vec)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "emb.txt")
        write_embedding_text(path, [token])
        lines = open(path, encoding="utf-8").read().splitlines()
    assert lines[0] == f"1 {EMB_DIM}"
    fields = lines[1].split(" ")
    assert fields[0] == token
    assert [float(x) for x in fields[1:]] == vec


@given(st.lists(st.sampled_from(
    ["alice", "johnson", "works", "for", "acme", "corp", "globex",
     "runs", "springfield", "lives", "in", "was", "born", "the", "x"]),
    min_size=1, max_size=14))
@settings(max_examples=120, deadline=None)
def test_usm_decode_closed_over_encoder_links(tokens):
    """M6 invariants on arbitrary token sequences: every decoded
    relation's spans are real H2T mention spans, every decoded entity
    is a typed mention the gazetteer produced, and the unscored
    variant equals the scored variant minus the score column."""
    from rex_spark.kernels.extractor import extract_mentions
    from rex_spark.operators.usm import usm_sentence, usm_sentence_scored

    mentions = extract_mentions(tokens)
    ments = {(m[2], m[3]): m[1] for m in mentions}
    ents, rels = usm_sentence(tokens, mentions)
    ents_s, rels_s = usm_sentence_scored(tokens, mentions)
    assert ents == ents_s
    assert rels == [r[:-1] for r in rels_s]
    for surf, etype, s, e in ents:
        assert ments.get((s, e)) == etype
        assert surf == " ".join(tokens[s:e])
    for subj, rel, obj, hs, he, ts, te in rels:
        assert (hs, he) in ments and (ts, te) in ments
        assert subj == " ".join(tokens[hs:he])
        assert obj == " ".join(tokens[ts:te])
