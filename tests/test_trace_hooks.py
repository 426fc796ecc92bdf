"""The benchmark's traced run wraps engine functions by name
(``perfbench/layers.install``). A renamed or inherited entry point would
break that run only when it is started; this check resolves every hook
in a second."""

import inspect

from perfbench import layers


class _RecordingTracer:
    """Stands in for the tracer: records what it is asked to wrap."""

    def __init__(self):
        self.hooks = []

    def wrap(self, owner, attr, name, on_result=None):
        self.hooks.append((owner, attr))

    def count_calls(self, owner, attr, name):
        self.hooks.append((owner, attr))


def test_every_trace_hook_resolves():
    tracer = _RecordingTracer()
    layers.install(tracer)
    assert tracer.hooks
    for owner, attr in tracer.hooks:
        if inspect.isclass(owner):
            # The tracer replaces owner.__dict__[attr]: an inherited
            # method would raise KeyError there.
            assert attr in owner.__dict__, f"{owner.__qualname__}.{attr} is not defined in its class body"
        else:
            assert callable(getattr(owner, attr, None)), f"{owner.__name__}.{attr} is missing"
    owners = {(o.__name__, a) for o, a in tracer.hooks}
    assert ("IncrementalView", "refresh") in owners
    assert ("DerivedTableSync", "refresh") in owners
