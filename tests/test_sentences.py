"""kernels/sentences — segmentation + chunking unit and differential
tests.

These pin the suppression rules (abbreviations, initials, decimals),
terminator runs, closing-quote handling, paragraph breaks,
greedy-pack invariants, and totality, and check the segmenter against
the generator's composition facts.
"""

from intelligent_document_processing_on_aws_spark.fixtures.sentences_gen import (
    CHUNK_TOKENS,
    gen_sentence_docs,
    pack_facts,
)
from intelligent_document_processing_on_aws_spark.kernels.sentences import (
    pack_chunks,
    split_sentences,
)


def test_plain_split():
    assert split_sentences("One came. Two left. Three stayed.") == [
        "One came.", "Two left.", "Three stayed.",
    ]


def test_abbreviations_do_not_split():
    assert split_sentences("Dr. Smith saw Mr. Jones. They spoke.") == [
        "Dr. Smith saw Mr. Jones.", "They spoke.",
    ]
    assert split_sentences("Costs rose, e.g. fuel, in Jan. 2021.") == [
        "Costs rose, e.g. fuel, in Jan. 2021.",
    ]
    assert split_sentences("The U.S. Senate met. It adjourned.") == [
        "The U.S. Senate met.", "It adjourned.",
    ]


def test_initials_do_not_split():
    assert split_sentences("J. K. Rowling wrote it. We read it.") == [
        "J. K. Rowling wrote it.", "We read it.",
    ]


def test_decimals_and_versions_do_not_split():
    assert split_sentences("Pi is 3.14 here. Version 10.1.2 shipped.") == [
        "Pi is 3.14 here.", "Version 10.1.2 shipped.",
    ]


def test_terminator_runs_and_ellipsis():
    assert split_sentences("Really?! It vanished… Then silence.") == [
        "Really?!", "It vanished…", "Then silence.",
    ]


def test_closing_quotes_after_terminator():
    assert split_sentences('He said "stop." Then we left.') == [
        'He said "stop."', "Then we left.",
    ]
    assert split_sentences('"Go now," she said. "Fine."') == [
        '"Go now," she said.', '"Fine."',
    ]


def test_lowercase_continuation_never_splits():
    assert split_sentences("It held... for a while anyway.") == [
        "It held... for a while anyway.",
    ]


def test_etc_terminal_vs_medial():
    assert split_sentences("Pens, paper, etc. Then we left.") == [
        "Pens, paper, etc.", "Then we left.",
    ]
    assert split_sentences("Pens, etc. and paper stayed.") == [
        "Pens, etc. and paper stayed.",
    ]


def test_paragraph_break_always_splits():
    # no terminator on the heading; trailing abbreviation rescued
    assert split_sentences("Chapter 1\n\nWe saw Acme Corp.\n\nIt grew.") == [
        "Chapter 1", "We saw Acme Corp.", "It grew.",
    ]


def test_single_newline_is_whitespace():
    assert split_sentences("The line\nheld firm. It bent.") == [
        "The line held firm.", "It bent.",
    ]


def test_totality():
    for s in ("", None, "   ", "\n\n\n", ".", "a"):
        assert isinstance(split_sentences(s), list)


def test_pack_greedy_and_oversized():
    chunks = pack_chunks(["a b c", "d e", "f g h i"], 5)
    assert [(c["n_sentences"], c["n_tokens"]) for c in chunks] == [
        (2, 5), (1, 4),
    ]
    # oversized single sentence becomes its own chunk
    solo = pack_chunks(["one two three four five six"], 3)
    assert len(solo) == 1 and solo[0]["n_tokens"] == 6
    assert pack_chunks([], 10) == []


def test_pack_preserves_order_and_text():
    sents = ["Alpha one.", "Beta two three.", "Gamma."]
    chunks = pack_chunks(sents, 4)
    rejoined = " ".join(c["text"] for c in chunks)
    assert rejoined == " ".join(sents)
    assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))


def test_differential_against_generator_facts():
    docs = gen_sentence_docs(320)
    assert {d["family"] for d in docs} == {
        "plain", "abbrev", "initials", "numbers", "quotes", "exclaim",
        "etc_bound", "paragraphs",
    }
    for d in docs:
        assert split_sentences(d["text"]) == d["sentences"], d["doc_id"]
        assert pack_chunks(d["sentences"], CHUNK_TOKENS) == pack_facts(
            d["sentences"]
        ), d["doc_id"]
