"""CJK tokenizer parity gates (r4 verdict ask #8).

Reference: pkg/monlp/tokenizer/simple.go (latin/cjk state machine,
outputCJK overlapping rune trigrams), pkg/fulltext/fulltext.go:919
ParsePatternInNLMode, jieba_test.go's example sentences."""

from __future__ import annotations

import pytest

from matrixone_spark.functions.text import tokenize, tokenize_mixed_py

CASES = [
    "我来到北京清华大学 Hello World3",
    "苹果",
    "ABC中文字符def, 你好。",
    "mixed 混合 text 文本处理 engine",
    "numbers123字符456tail",
    "  punctuation!!!只有，标点。^^  ",
    "ひらがなとカタカナのテキスト",
    "한국어 텍스트 처리",
    "",
]


def test_trigram_semantics():
    # outputCJK: 3-rune window sliding by 1, INCLUDING the shrinking tail
    # windows at each run end (simple.go outputCJK loops while ia < id)
    assert tokenize_mixed_py("苹果") == ["苹果", "果"]
    assert tokenize_mixed_py("苹果香") == ["苹果香", "果香", "香"]
    assert tokenize_mixed_py("苹果香蕉") == ["苹果香", "果香蕉", "香蕉", "蕉"]
    # latin lowercased, digits glued (simple.go latinToken)
    assert tokenize_mixed_py("Hello123 World") == ["hello123", "world"]
    # CJK punctuation breaks runs (isBreakerRune: unicode.IsPunct)
    assert tokenize_mixed_py("你好，世界啊") == ["你好", "好", "世界啊", "界啊", "啊"]


def test_positional_and_query_tokenizers():
    from matrixone_spark.functions.text import nl_query_leaves_py, tokenize_mixed_pos_py

    # rune offsets; breaker runes keep their width in the offsets
    assert tokenize_mixed_pos_py("版一、二冊") == [("版一", 0), ("一", 1), ("二冊", 3), ("冊", 4)]
    assert tokenize_mixed_pos_py("color is red") == [("color", 0), ("is", 6), ("red", 9)]
    # NL query side: full trigrams only, short runs/words become STAR
    assert nl_query_leaves_py("遠東兒童中文") == [
        ("eq", "遠東兒", 0), ("eq", "東兒童", 1), ("eq", "兒童中", 2), ("eq", "童中文", 3)]
    assert nl_query_leaves_py("is red") == [("star", "is", 0), ("eq", "red", 3)]


def test_spark_column_matches_python_mirror(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "s string")
    got = [r[0] for r in df.select(tokenize("s", mode="mixed")).collect()]
    for c, g in zip(CASES, got):
        assert g == tokenize_mixed_py(c), c


def test_fulltext_cjk_oracle(spark, registry):
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(spark, registry["fulltext_cjk"])


def test_mixed_mode_phrase_and_nl(spark, registry):
    """Mixed-mode positional postings: ASCII phrase adjacency and CJK
    NL-phrase both work over the rune-offset scheme."""
    from pyspark.sql import Row

    from matrixone_spark.operators.fulltext import FullTextIndex

    rows = [
        Row(doc_id=0, text="blue is not red here"),
        Row(doc_id=1, text="red is not blue"),
        Row(doc_id=2, text="遠東兒童中文是教材"),
        Row(doc_id=3, text="中文教材 not related"),
    ]
    idx = FullTextIndex.build(spark.createDataFrame(rows), "doc_id", "text", mode="mixed")
    got = {r["doc_id"] for r in idx.match_pattern('"is not red"', algo="tfidf").collect()}
    assert got == {0}
    nl = {r["doc_id"] for r in idx.match_nl("遠東兒童中文", algo="tfidf").collect()}
    assert nl == {2}
    # single-term NL still scores by tf
    one = {r["doc_id"] for r in idx.match_nl("red", algo="tfidf").collect()}
    assert one == {0, 1}


# ---------------------------------------------------------------- dict mode


def test_cut_dag_golden():
    """Max-probability segmentation goldens (clean-room jieba-path,
    functions/cjk_dict.py; reference pkg/monlp/tokenizer jieba mode)."""
    from matrixone_spark.functions.cjk_dict import cut_dag, cut_mixed_dict

    assert cut_dag("北京大学数据") == ["北京", "大学", "数据"]
    assert cut_dag("我们在人工智能和机器学习研究") == [
        "我们", "在", "人工智能", "和", "机器学习", "研究",
    ]
    # longest-match vs probability: 操作系统 (4-char compound) wins over
    # 系统 alone; unknown runes fall back to single chars
    assert cut_dag("操作系统引擎") == ["操作系统", "引擎"]
    assert cut_dag("魔") == ["魔"]
    # mixed script: latin runs stay whole tokens, lowered
    assert cut_mixed_dict("北京大学 Data3,中文ABC引擎") == [
        "北京", "大学", "data3", "中文", "abc", "引擎",
    ]


def test_cut_dict_positions_and_userdict(tmp_path):
    from matrixone_spark.functions.cjk_dict import (
        build_prefix_dict,
        cut_dag,
        cut_mixed_dict_pos,
        load_userdict,
    )

    assert cut_mixed_dict_pos("北京大学 data3") == [
        ("北京", 0), ("大学", 2), ("data3", 5),
    ]
    # user dictionary (public jieba dict.txt format) overrides segmentation
    p = tmp_path / "dict.txt"
    p.write_text("北京大学 99999 nt\n北京 100\n大学 100\n", encoding="utf-8")
    words = load_userdict(str(p))
    prefix, logtotal = build_prefix_dict(words)
    assert cut_dag("北京大学", prefix, logtotal) == ["北京大学"]


def test_fulltext_cjk_dict_oracle(spark, registry):
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(spark, registry["fulltext_cjk_dict"])


def test_dict_vs_trigram_recall(spark):
    """For whole-word Chinese queries both tokenizer modes must retrieve the
    SAME document set (dict mode ranks by words, trigram by rune 3-grams —
    recall parity is the gate; jieba_test.go's retrieval intent)."""
    from pyspark.sql import Row

    from matrixone_spark.operators.fulltext import FullTextIndex

    rows = [
        Row(doc_id=0, text="北京大学的数据分析系统"),
        Row(doc_id=1, text="上海的机器学习引擎"),
        Row(doc_id=2, text="数据系统与中文查询"),
        Row(doc_id=3, text="completely latin doc"),
    ]
    df = spark.createDataFrame(rows)
    tri = FullTextIndex.build(df, "doc_id", "text", mode="mixed")
    dic = FullTextIndex.build(df, "doc_id", "text", mode="dict")
    for q, want in [("数据", {0, 2}), ("引擎", {1}), ("中文", {2})]:
        got_d = {r["doc_id"] for r in dic.match_nl(q, algo="tfidf").collect()}
        assert got_d == want, (q, got_d)
        # trigram mode probes sub-3-char CJK as prefixes of its trigrams —
        # same docs must come back
        got_t = {r["doc_id"] for r in tri.match_nl(q, algo="tfidf").collect()}
        assert got_t == want, (q, got_t)


def test_query_time_hmm_pairs():
    """The reference builds its fulltext index WITHOUT HMM and queries
    WITH it (pkg/monlp/tokenizer/jieba.go:70-75). Query-side unknown
    single runes therefore group into 2-rune new-words that can never
    match the index's single-rune postings — gojieba.result pins the
    visible effect: '版一、二冊' matches NOTHING even though doc 4's body
    contains the literal text."""
    from matrixone_spark.functions.cjk_dict import cut_mixed_dict

    # index-time (no pairing): unknown runes stay single
    assert cut_mixed_dict("版一、二冊") == ["版", "一", "二", "冊"]
    # query-time: pairs; dict words still win inside the run
    assert cut_mixed_dict("版一、二冊", hmm_pairs=True) == ["版一", "二冊"]
    assert cut_mixed_dict("遠東兒童中文", hmm_pairs=True) == [
        "遠東", "兒童", "中文",
    ]
    # odd-length unknown tail stays single; dict words break pairing runs
    assert cut_mixed_dict("魔法中文魔", hmm_pairs=True) == ["魔法" , "中文", "魔"] or \
        cut_mixed_dict("魔法中文魔", hmm_pairs=True) == ["魔法", "中文", "魔"]


def test_gojieba_golden_vocabulary():
    """Words the gojieba BVT goldens pin as dictionary units
    (test/distributed/cases/fulltext/gojieba.sql): the srcph phrase tests
    need 我/来到/北京/清华大学, and the Traditional-Chinese corpus needs
    遠東, 教學/指引, 彩圖 as words."""
    from matrixone_spark.functions.cjk_dict import cut_mixed_dict

    assert cut_mixed_dict("我来到北京清华大学") == [
        "我", "来到", "北京", "清华大学",
    ]
    assert cut_mixed_dict("教學指引") == ["教學", "指引"]
    assert cut_mixed_dict("彩圖") == ["彩圖"]


def test_full_wordlist_through_spark(spark, tmp_path):
    """End-to-end: a jieba-format frequency wordlist (the public dict.txt
    format, one 'word freq [tag]' line each) loaded via load_userdict()
    drives the Arrow-batched tokenizer UDF — the 100 TB deployment path
    where a full public dictionary replaces the built-in list."""
    from pyspark.sql import Row

    from matrixone_spark.functions.cjk_dict import load_userdict, make_tokenizer

    lines = ["云计算 5000 n", "北京 10000 ns", "大学 8000 n",
             "清华大学 3000 nt", "自然语言 900", "处理 7000 v"]
    p = tmp_path / "dict.txt"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    words = load_userdict(str(p))
    assert words["云计算"] == 5000 and len(words) == 6
    toks, toks_pos = make_tokenizer(words)
    df = spark.createDataFrame(
        [Row(t="云计算与自然语言处理"), Row(t="清华大学在北京")]
    ).select(toks("t").alias("w"), toks_pos("t").alias("wp"))
    got = [r["w"] for r in df.collect()]
    assert got[0] == ["云计算", "与", "自然语言", "处理"]
    assert got[1] == ["清华大学", "在", "北京"]


def test_real_public_userdict():
    """Load a REAL public jieba-format dictionary file: the cppjieba
    user.dict.utf8 the reference vendors (MIT, pkg/monlp/tokenizer/dict/).
    Its lines exercise every format variant — bare word ('云计算'),
    word+tag with no freq ('蓝翔 nz'), and word freq tag ('区块链 10 nz')
    — and the loaded words must win segmentation over the built-in
    vocabulary's single-char fallback."""
    import os

    from matrixone_spark.functions.cjk_dict import (
        DEFAULT_WORDS,
        build_prefix_dict,
        cut_dag,
        load_userdict,
    )

    path = "/root/reference/pkg/monlp/tokenizer/dict/user.dict.utf8"
    if not os.path.exists(path):
        import pytest

        pytest.skip("reference checkout absent")
    words = load_userdict(path)
    assert words["区块链"] == 10          # word freq tag
    assert words["蓝翔"] == 1             # word tag (no freq → 1)
    assert words["云计算"] == 1           # bare word
    merged = dict(DEFAULT_WORDS)
    merged.update({w: max(f, 3) for w, f in words.items()})
    prefix, logtotal = build_prefix_dict(merged)
    assert cut_dag("云计算区块链", prefix, logtotal) == ["云计算", "区块链"]

