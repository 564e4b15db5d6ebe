from perfbench import run

HOST = {"nproc": 4, "code_fingerprint": "abc"}


def _rec(**over):
    rec = {"metrics": {}, "seconds": 20, "cpus": 4, "host": dict(HOST)}
    rec.update(over)
    return rec


def test_base_record_must_match_run_length_cpus_and_code():
    assert run.is_base_for(_rec(), 20, 4, HOST)
    assert not run.is_base_for(_rec(seconds=10), 20, 4, HOST)
    assert not run.is_base_for(_rec(cpus=1), 20, 4, HOST)
    assert not run.is_base_for(_rec(host={"nproc": 8, "code_fingerprint": "abc"}), 20, 4, HOST)
    assert not run.is_base_for(_rec(host={"nproc": 4, "code_fingerprint": "old"}), 20, 4, HOST)
    assert not run.is_base_for({"seconds": 20, "cpus": 4, "host": HOST}, 20, 4, HOST)
