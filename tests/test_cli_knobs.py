"""The CLI's corpus/audio knob table (plans/config.py CORPUS_COMMANDS): every
knob reachable from a flag and from a config file, a flag beating the
config, typo'd keys rejected — resolver-level, no Spark job — and a parser
for every subcommand."""

import pytest
import yaml

from unify_spark import cli
from unify_spark.plans.config import (
    CORPUS_COMMANDS,
    TablePath,
    corpus_knobs,
    knob_spec,
    load_corpus_config,
)

_KNOBS = [
    (section, knob) for section, (_, _, knobs) in CORPUS_COMMANDS.items() for knob in knobs
]


def _sample(section: str, knob: str, alt: bool = False):
    """A raw value for the knob and the argv that sets it; ``alt`` gives a
    second, different value."""
    t, _, choices = knob_spec(CORPUS_COMMANDS[section][2][knob])
    flag = "--" + knob.replace("_", "-")
    if t is bool:
        return alt, [flag if alt else "--no-" + knob.replace("_", "-")]
    if choices:
        v = choices[-1 if alt else 0]
    else:
        v = {int: 7, float: 0.25, str: "x_col", TablePath: "/data/x"}[t]
        v = v * 2 if alt else v
    return v, [flag, str(v)]


def _typed(section: str, knob: str, v):
    return knob_spec(CORPUS_COMMANDS[section][2][knob])[0](v)


def _parse(section: str, extra: list[str]):
    command = CORPUS_COMMANDS[section][0]
    return vars(cli._parser().parse_args([command, "--table", "t", "--out", "o", *extra]))


def _config(tmp_path, section: str, body: dict) -> str:
    path = str(tmp_path / "corpus.yaml")
    with open(path, "w") as f:
        yaml.safe_dump({"corpus": {section: body}}, f)
    return path


@pytest.mark.parametrize("section,knob", _KNOBS)
def test_knob_settable_from_flag_and_config(section, knob, tmp_path):
    value, argv = _sample(section, knob)
    want = {knob: _typed(section, knob, value)}
    assert corpus_knobs(section, _parse(section, argv)) == want
    got = corpus_knobs(section, _parse(section, []), _config(tmp_path, section, {knob: value}))
    assert got == want and type(got[knob]) is type(want[knob])


@pytest.mark.parametrize("section,knob", _KNOBS)
def test_flag_beats_config(section, knob, tmp_path):
    cfg_value, _ = _sample(section, knob)
    flag_value, argv = _sample(section, knob, alt=True)
    assert cfg_value != flag_value
    cfg = _config(tmp_path, section, {knob: cfg_value})
    assert corpus_knobs(section, _parse(section, argv), cfg) == {
        knob: _typed(section, knob, flag_value)
    }


@pytest.mark.parametrize("section", list(CORPUS_COMMANDS))
def test_unset_knobs_are_not_passed(section):
    # the operator's own keyword default then applies
    assert corpus_knobs(section, _parse(section, [])) == {}


@pytest.mark.parametrize("section", list(CORPUS_COMMANDS))
def test_unknown_config_key_rejected(section, tmp_path):
    with pytest.raises(ValueError, match="unknown keys"):
        load_corpus_config(_config(tmp_path, section, {"no_such_knob": 1}))


def _subcommands() -> list[str]:
    sub = next(a for a in cli._parser()._actions if a.dest == "cmd")
    return sorted(sub.choices)


@pytest.mark.parametrize("cmd", _subcommands())
def test_every_subcommand_help_exits_zero(cmd, capsys):
    with pytest.raises(SystemExit) as exc:
        cli.main([cmd, "--help"])
    assert exc.value.code == 0
    assert "usage:" in capsys.readouterr().out


def test_embed_dedup_dim_required(capsys):
    # the operator's dim has no default: no flag and no config is exit 2
    assert cli.main(["corpus-embed-dedup", "--table", "t", "--out", "o"]) == 2
    assert "dim required" in capsys.readouterr().err


def test_config_null_is_passed_not_defaulted(tmp_path):
    # hop_ms=None restores non-overlapping frames, target_sr=None keeps the
    # native rate: an explicit null must reach the operator, not its default
    cfg = _config(tmp_path, "audio_dedup", {"hop_ms": None, "target_sr": None})
    got = corpus_knobs("audio_dedup", _parse("audio_dedup", []), cfg)
    assert got == {"hop_ms": None, "target_sr": None}
    # a flag still beats the null
    got = corpus_knobs("audio_dedup", _parse("audio_dedup", ["--hop-ms", "8"]), cfg)
    assert got == {"hop_ms": 8, "target_sr": None}


def test_bool_knob_rejects_non_bool_config(tmp_path):
    # bool("false") is True: a quoted boolean must be an error, not a flip
    cfg = _config(tmp_path, "audio_dedup", {"align": "false"})
    with pytest.raises(ValueError, match="corpus.audio_dedup.align: must be true or false"):
        corpus_knobs("audio_dedup", _parse("audio_dedup", []), cfg)
